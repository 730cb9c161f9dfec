package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import java.sql.Timestamp

/** Streaming analytics over event streams: event-time windows +
  * watermarks, streaming dedup, and stateful sessionization — the
  * categories SURVEY.md §2 Part B marks absent in the reference (it has
  * only a wall-clock rotation timer, kafka.clj:113-119).
  *
  * Scale notes: every operator here keys its state (window key, event id,
  * user id) and bounds it with a watermark or timeout — state stores stay
  * O(active keys), never O(history). That is the difference between a
  * pipeline that survives 100 TB/day and one that OOMs on Tuesday.
  */
object EventAnalytics {

  /** Tumbling event-time window aggregation with late-data drop. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-window per-type distinct-user HLL sketches built AT STREAM TIME
    * — the ingest end of q135's sketch-at-rest lifecycle: the stream job
    * emits the BINARY sketch column directly, so the archive carries
    * queryable cardinality state from the moment data lands and no batch
    * backfill ever re-reads the raw events. Works because
    * [[graft.functions.HllSketch]]'s aggregator is a standard mergeable
    * agg: the state store holds the register buffer per (window, type),
    * merges are register-max (order-free), and the emitted sketch is
    * BYTE-IDENTICAL to a batch build over the same rows — asserted in
    * StreamingAnalyticsSpec. State is O(windows × types) × 4 KB. */
  def windowedUserSketches(events: DataFrame, watermark: String = "10 minutes",
                           window_ : String = "5 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(expr("hll_build(user_id)").as("sk"))
      .select(col("window.start").as("win_start"), col("event_type"), col("sk"))
  }

  /** Per-window per-type value-quantile DDSketches at stream time — the
    * quantile twin of [[windowedUserSketches]] (latency/size/value
    * distributions per window, stored as BINARY and mergeable later).
    * Values bridge to integer cents before sketching, matching the
    * batch convention; counter-add state merges are order-free, so the
    * emitted sketch is byte-identical to a batch build (spec-asserted).
    * State is O(windows × types) × 16 KB. */
  def windowedValueSketches(events: DataFrame, watermark: String = "10 minutes",
                            window_ : String = "5 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(expr(
        "ddq_build(CAST(floor(value * 100 + 0.5) AS BIGINT))").as("sk"))
      .select(col("window.start").as("win_start"), col("event_type"), col("sk"))
  }

  /** Per-window per-type key-frequency count-min sketches at stream time
    * — the frequency leg of the sketch-at-rest family (q137's ingest
    * end), completing ingest parity with the HLL / DDSketch twins:
    * heavy-hitter questions over archived windows never re-read raw
    * events. Counter-add state merges are commutative+associative
    * (property-tested in FunctionsSpec), so the emitted sketch is
    * byte-identical to a batch build over the same rows
    * (StreamingAnalyticsSpec). State is O(windows × types) × the fixed
    * counter grid. */
  def windowedFreqSketches(events: DataFrame, watermark: String = "10 minutes",
                           window_ : String = "5 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(expr("cms_build(user_id)").as("sk"))
      .select(col("window.start").as("win_start"), col("event_type"), col("sk"))
  }

  /** Per-window per-type membership Bloom filters at stream time — the
    * membership leg (q141's ingest end), the last of the four sketch
    * columns a stream job can land next to its archive partition.
    * Bit-OR state merges are order-free and the filter admits no false
    * negatives by construction; the emitted bytes equal a batch build
    * over the same rows (StreamingAnalyticsSpec). State is
    * O(windows × types) × filter bytes. */
  def windowedMembershipSketches(events: DataFrame,
                                 watermark: String = "10 minutes",
                                 window_ : String = "5 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(expr("bloom_build(user_id)").as("sk"))
      .select(col("window.start").as("win_start"), col("event_type"), col("sk"))
  }

  /** Streaming exact dedup on event_id, state bounded by the watermark —
    * the engine-side analog of the reference's replay-duplicate tolerance
    * (§2.1.7): duplicates are eliminated, not tolerated. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- stream twins: each lands its micro-batches through BatchSink,
  // which owns the exactly-once sink policy ----

  /** Streaming incremental near-dedup against SIGNATURES at rest — the
    * stream-time twin of q145's daily-batch path: each arriving
    * micro-batch of documents is the ONLY text that gets shingled and
    * MinHash-signed; its signatures banded-join the stored corpus
    * signature table ([[graft.llm.Dedup.signatureFrame]], built once and
    * persisted in the warehouse) and the near-dup hits land under
    * `hits/batch_run=N`. At 100 TB/day the corpus is never re-signed and
    * each micro-batch costs O(batch): sign, band-join, verify against
    * stored shingle hash sets. */
  def startStreamingNearDedup(docStream: DataFrame, corpusSig: DataFrame,
                              shingleN: Int, numHashes: Int, bands: Int,
                              tau: Double, hitsPath: String,
                              checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      val batchSig = graft.llm.Dedup.signatureFrame(
        batch, "doc_id", "text", shingleN, numHashes)
      BatchSink.land(graft.llm.Dedup.incrementalLshPairs(
        corpusSig, batchSig, numHashes, bands, tau), hitsPath, batchId)
    }

  /** [[startStreamingNearDedup]] with GROWING at-rest state — the full
    * incremental lifecycle rather than a frozen-corpus check: each
    * micro-batch is signed once, scored against corpus-signatures ∪
    * every PRIOR batch's signatures (read back at rest, O(state) never
    * re-signed), scored against ITSELF (within-batch near-dups — the
    * pairs a frozen-state check silently misses when two copies arrive
    * in the same crawl), and then its own signatures land under
    * `sigs/batch_run=N` so later batches dedup against them. The prior
    * filter is STRICTLY `batch_run < id`: a checkpoint-replayed batch
    * can never see its own earlier (possibly partial) signature write,
    * which keeps replay idempotent for read-your-own-kind state. Hits
    * carry (id_a = arriving doc, id_b = state-or-batch doc, jaccard). */
  def startStreamingNearDedupAccumulating(
      docStream: DataFrame, corpusSig: DataFrame,
      shingleN: Int, numHashes: Int, bands: Int, tau: Double,
      outPath: String, checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val batchSig = graft.llm.Dedup.signatureFrame(
        batch, "doc_id", "text", shingleN, numHashes)
        .transform(graft.core.EngineCache.persisted)
      // the first batch finds no sigs directory yet; later ones read it
      // with the landed schema, so no footer-inference job runs and a
      // directory holding only an interrupted first write reads as empty
      val sigsDir = new org.apache.hadoop.fs.Path(s"$outPath/sigs")
      val prior =
        if (!sigsDir.getFileSystem(spark.sessionState.newHadoopConf())
              .exists(sigsDir)) None
        else Some(spark.read
          .schema(batchSig.schema.add("batch_run", "long"))
          .parquet(sigsDir.toString)
          .filter(col("batch_run") < batchId)
          .select("id", "hs", "sig"))
      val state = prior.fold(corpusSig.select("id", "hs", "sig"))(
        corpusSig.select("id", "hs", "sig").unionByName(_))
      val cross = graft.llm.Dedup.incrementalLshPairs(
          state, batchSig, numHashes, bands, tau)
        .select(col("batch_id").as("id_a"),
          col("corpus_id").as("id_b"), col("jaccard"))
      val within = graft.llm.Dedup.minhashLshPairs(
        batch, "doc_id", "text", shingleN, numHashes, bands, tau)
      // hits never reads this batch's own sigs (batch_run < id), so
      // the two land together
      BatchSink.landAll(batchId)(Seq(
        cross.unionByName(within) -> s"$outPath/hits",
        batchSig -> s"$outPath/sigs"))
    }

  /** Streaming IVF-PQ index maintenance — the stream-time twin of
    * q151's batch append: each arriving micro-batch of (vec_id,
    * embedding) rows is PQ-encoded with the FROZEN memoized codebook
    * ([[graft.operators.ScaleOps.encodeWithFrozenCodebook]] — only the
    * batch is scanned, the codebook never shifts) and its codes land
    * under `index/batch_run=N`. A search tier reading the base index
    * plus these partitions sees new vectors one trigger after they
    * arrive, with no corpus re-encode anywhere. */
  def startStreamingIndexAppend(vecStream: DataFrame, dir: String,
                                indexPath: String,
                                checkpoint: String): StreamingQuery =
    BatchSink.start(vecStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.ScaleOps
        .encodeWithFrozenCodebook(batch.sparkSession, dir, batch),
        indexPath, batchId)
    }

  /** Streaming NSW graph-index maintenance — the stream-time twin of
    * q264's batch append, completing the at-rest maintenance verbs'
    * streaming coverage (sketch columns, IVF-PQ codes, KMV shards and
    * the IVM views already have twins): each arriving micro-batch of
    * (vec_id, embedding) rows is SRP-SIGNED on its own (signatures are
    * per-row pure, so the landed rows are batch-split-invariant by
    * construction) and lands under `sigs/batch_run=N`. Landing
    * SIGNATURES, not adjacency, is the honest stream/batch split: edge
    * repair needs the affected set's corpus context, and a per-trigger
    * adjacency rewrite would make batch N's artifact depend on batches
    * 0..N−1 (not replay-idempotent) — the same reasoning that lands
    * frozen-codebook codes, not a re-clustered index, in
    * [[startStreamingIndexAppend]]. The serve side folds base ∪ landed
    * signatures through the ONE bounded repair the batch verb runs
    * (`nswGraphAppendBySigs`), so streamed appends produce an
    * adjacency equal to the batch verb's — the spec's equality,
    * restart included. */
  def startStreamingNswSigAppend(vecStream: DataFrame, sigsPath: String,
                                 checkpoint: String): StreamingQuery =
    BatchSink.start(vecStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch.selectExpr("vec_id",
        s"srp_sig(embedding, ${graft.operators.LlmQueries.SrpBits}) AS sig"),
        sigsPath, batchId)
    }

  /** Streaming z-order append — the stream-time twin of q200's encode
    * half under the frozen-artifact discipline (q151's codebook,
    * q178's postings): the base layout's normalization bounds freeze
    * when the base publishes, and every arriving micro-batch of rows
    * is Morton-encoded against those bounds alone
    * ([[graft.operators.ScaleOps.zorderEncodeFrozen]] — per-row pure,
    * so the emitted codes are batch-split-invariant) into
    * `zrows/batch_run=N`. File assignment is deliberately NOT streamed:
    * clustering is a compaction-time decision (the periodic OPTIMIZE
    * re-ranks fresh rows into layout files), exactly how lakehouse
    * ingestion lands row-files that a later pass z-orders. */
  def startStreamingZorderAppend(rowStream: DataFrame, dir: String,
                                 layoutPath: String,
                                 checkpoint: String): StreamingQuery = {
    // the frozen-artifact read happens ONCE, before the stream starts:
    // every micro-batch closes over these four constants instead of
    // re-aggregating the whole base layout per trigger
    val (pmn, pmx, smn, smx) = graft.operators.ScaleOps
      .zorderFrozenBounds(rowStream.sparkSession, dir)
    BatchSink.start(rowStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.ScaleOps
        .zorderEncodeWithBounds(batch, pmn, pmx, smn, smx),
        layoutPath, batchId)
    }
  }

  /** Streaming winnowing-fingerprint maintenance — the stream-time twin
    * of q229's increment: each arriving micro-batch of documents is
    * gram-hashed and window-minimized ON ITS OWN (fingerprints are
    * per-document pure, so the emitted rows are batch-split-invariant
    * by construction) and lands under `fps/batch_run=N`; a reader
    * unions base ∪ batch_run partitions exactly as q229 serves. The
    * spec proves two micro-batches merge to the one-shot fingerprint
    * set row-for-row. */
  def startStreamingWinnowFps(docStream: DataFrame, fpsPath: String,
                              checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.CorpusFilterOps.winnowFps(batch),
        fpsPath, batchId)
    }

  /** Streaming CUSUM monitoring — the stream-time twin of q211's
    * changepoint scan, built on the idempotent-increment discipline:
    * the stream lands ONLY per-batch hourly PARTIALS (exact decimal
    * value sums + counts per (event_type, hour)) under
    * `hourly/batch_run=N`; the monitor value is then a pure READ-SIDE
    * query ([[graft.operators.StatsOps.cusumFromShards]]) that
    * re-combines partials exactly and runs the q211 prefix identity.
    * Because the landed rows are additive partials, the monitor is
    * batch-split-invariant even when a micro-batch cuts an hour in
    * half, and no stateful fold exists to double-apply on a retry,
    * which is why the state is at rest instead of in
    * mapGroupsWithState. Spec proves mid-hour splits reproduce the
    * batch detector exactly. */
  def startStreamingCusumHourly(eventStream: DataFrame, hourlyPath: String,
                                checkpoint: String): StreamingQuery =
    BatchSink.start(eventStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(sum(col("value")
          .cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(30, 8))).as("vsum"),
          count(lit(1)).as("vn")), hourlyPath, batchId)
    }

  /** Streaming PROFILE maintenance — the stream-time twin of q224's
    * refresh: each arriving micro-batch of lineitem-shaped rows is
    * profiled on its own (per-column counts, typed min/max, HLL value
    * sketch) and the per-batch profile rows land under
    * `prof/batch_run=N`. The CURRENT profile at any moment is the same
    * pure merge q224 serves — counts add, min/max fold, sketches
    * hll_merge — over however many batch_run partitions exist; because
    * every statistic is a commutative, associative monoid
    * (FunctionsSpec property-tests the sketch laws), the merged profile
    * is batch-split-invariant, which the spec proves against the
    * one-shot profile. */
  def startStreamingProfileRefresh(rowStream: DataFrame, profPath: String,
                                   checkpoint: String): StreamingQuery =
    BatchSink.start(rowStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.ScaleOps.profileRowsOfProjected(batch),
        profPath, batchId)
    }

  /** Streaming bitmap-index ENCODE — the stream-time twin of q214's
    * append half: each arriving micro-batch of lineitem-shaped rows is
    * encoded into (col, val, word_id, word) bitmap shards with the SAME
    * rid scheme the at-rest index uses, landing under
    * `words/batch_run=N`. A reader serves conjunctions over base ∪
    * stream by the same word-wise bit_or merge, because bits stay
    * disjoint as long as micro-batches split on l_orderkey — a prefix
    * of the rid key, the exact contract q214 documents for its batch
    * split (Kafka keyed by orderkey gives this for free: one key never
    * spans partitions mid-group). Under that contract the emitted words
    * are batch-split-invariant up to the word grouping, and the merged
    * index is — the spec proves the two-batch merge equals the one-shot
    * index bit-for-bit. */
  def startStreamingBitmapEncode(rowStream: DataFrame, wordsPath: String,
                                 checkpoint: String): StreamingQuery =
    BatchSink.start(rowStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.ScaleOps.bitmapIndexOf(batch),
        wordsPath, batchId)
    }

  /** Streaming Bloom-shard encode — the stream-time twin of the q255
    * membership manifest, keyed by a ROW-PURE shard (l_orderkey mod 8)
    * rather than rank-assigned file ids: rank is a batch-relative
    * notion, but a shard function gives a row the same home whichever
    * micro-batch carries it, so the merged filters are
    * batch-split-invariant BY CONSTRUCTION. Each micro-batch lands one
    * filter per shard under `batch_run=N`; a serve `bloom_merge`s every
    * run's shard filters. Bit-OR is commutative, associative, AND
    * idempotent — a double-merged replayed batch changes nothing, so
    * unlike the counting family (q239's merge-once discipline) this sink
    * needs no exactly-once care beyond the overwrite itself. The price
    * is the same monotone trade the q255 scaladoc records: stream-time
    * deletes are impossible; a takedown rebuilds affected shards or
    * tolerates stale positives. */
  def startStreamingBloomShards(rowStream: DataFrame, path: String,
                                checkpoint: String): StreamingQuery =
    BatchSink.start(rowStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch
        .selectExpr("CAST(l_orderkey % 8 AS INT) AS shard", "l_partkey AS p")
        .groupBy("shard")
        .agg(expr("bloom_build(p)").as("sk")), path, batchId)
    }

  /** Streaming KMV-shard encode — the stream-time twin of q267's
    * set-expression sketches: events arrive in micro-batches, each
    * batch lands one KMV user sketch per (event_type, shard) under
    * `batch_run=N`, and a serve `kmv_merge`s every run's sketches per
    * type before answering any set expression. The KMV merge is set
    * union capped at the K smallest hashes in canonical sorted-byte
    * form — commutative, associative, AND idempotent — so the merged
    * sketch is batch-split-invariant by construction and a replayed
    * (double-landed) batch changes nothing; like the Bloom family and
    * unlike the counting sketches (q239's merge-once discipline), no
    * exactly-once care is needed beyond the overwrite. The same monotone
    * trade applies: a min-sketch cannot retract, so stream-time deletes
    * rebuild affected shards or tolerate stale members — stated, not
    * papered over. */
  def startStreamingKmvShards(eventStream: DataFrame, path: String,
                              checkpoint: String): StreamingQuery =
    BatchSink.start(eventStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch
        .selectExpr("event_type", "CAST(user_id % 8 AS INT) AS shard",
          "user_id")
        .groupBy("event_type", "shard")
        .agg(expr("kmv_build(user_id)").as("sk")), path, batchId)
    }

  /** Streaming SUMMARY-DELTA feed — the stream-time twin of q270's
    * aggregate-view maintenance, generalized to the full CDC verb set:
    * each micro-batch row is (key, grp, old_cents, new_cents) where a
    * NULL old is an INSERT, a NULL new is a DELETE, and both present
    * is a REVISION; the batch aggregates to per-group signed deltas
    * (Δn = inserts − deletes, Δrev = Σ new − Σ old) landed under
    * `batch_run=N`. COUNT/SUM form an abelian group, so the folded
    * deltas are batch-split-invariant by construction and a serve is
    * stored-summary + one O(groups·runs) fold — the fact table never
    * rescans at stream time. Deltas are NOT idempotent under re-merge
    * (the q239 counting discipline, not the Bloom/KMV one): exactly-once
    * rides the per-batch directory overwrite — a replayed batch
    * rewrites its own run, never double-lands. */
  def startStreamingViewDeltas(cdcStream: DataFrame, deltaPath: String,
                               checkpoint: String): StreamingQuery =
    BatchSink.start(cdcStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch
        .selectExpr("grp",
          "CASE WHEN old_cents IS NULL THEN 1L ELSE 0L END - " +
            "CASE WHEN new_cents IS NULL THEN 1L ELSE 0L END AS dn",
          "coalesce(new_cents, 0L) - coalesce(old_cents, 0L) AS drev")
        .groupBy("grp")
        .agg(expr("CAST(sum(dn) AS BIGINT)").as("d_n"),
          expr("CAST(sum(drev) AS BIGINT)").as("d_rev")), deltaPath, batchId)
    }

  /** Read-side serve over the delta shards: stored summary + the
    * additive fold of every run — O(groups · runs), no fact scan. */
  def summaryFromDeltas(base: DataFrame, deltaPath: String): DataFrame = {
    val spark = base.sparkSession
    val deltas = spark.read.parquet(deltaPath)
      .groupBy("grp")
      .agg(sum("d_n").as("d_n"), sum("d_rev").as("d_rev"))
    base.join(deltas, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n_orders"), lit(0L)) +
          coalesce(col("d_n"), lit(0L))).as("n_orders"),
        (coalesce(col("rev_cents"), lit(0L)) +
          coalesce(col("d_rev"), lit(0L))).as("rev_cents"))
      .orderBy("grp")
  }

  /** Streaming DELETE feed for the bitmap index — the stream-time twin
    * of q231's tombstone build: deleted rows arrive in micro-batches,
    * each batch's tombstone words land under `batch_run=N`, and a serve
    * merges every run's words by bit_or before the AND-NOT — bit_or is
    * a commutative-associative monoid, so the merged bitmap is
    * batch-split-invariant. Same contract as the encode twin: batches
    * must split on l_orderkey (a PREFIX of the rid key), so an
    * occurrence group never spans two batches and per-batch occ
    * numbering cannot alias two different rows onto one rid. The index
    * itself is never touched — deletes at stream time are pure
    * tombstone appends, the Druid/Lucene soft-delete shape. */
  def startStreamingTombstones(rowStream: DataFrame, tombPath: String,
                               checkpoint: String): StreamingQuery =
    BatchSink.start(rowStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.ScaleOps.bitmapTombstoneOf(batch),
        tombPath, batchId)
    }

  /** Streaming DELETE feed for the refcounted gram set — the
    * stream-time twin of q234's decrement build: tombstoned documents
    * arrive in micro-batches, each batch's (ghash, dec) refcount
    * decrements land under `batch_run=N`, and a serve sums every run's
    * decrements before subtracting from the stored (ghash, df) table —
    * counts are an additive monoid, and a document is an atomic row, so
    * the merged decrement is batch-split-invariant with no cross-batch
    * contract to honor (the easier cousin of the bitmap twin's
    * rid-prefix rule). The gram table itself is never touched at stream
    * time — deletes are pure decrement appends, folded in by
    * compaction. */
  def startStreamingGramDeletes(docStream: DataFrame, decPath: String,
                                checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.LlmQueries.gramDecrementsOf(batch),
        decPath, batchId)
    }

  /** Streaming DELETE feed for the counting-bloom filter — the
    * stream-time twin of q239's subtraction: tombstoned documents
    * arrive in micro-batches, each batch cbloom_builds its own
    * decrement SKETCH under `batch_run=N`, and a serve cbloom_merges
    * every run's sketch before ONE cbloom_diff from the stored filter.
    * The counting bloom is a LINEAR map of the inserted multiset, so
    * batch-split-invariance here is BYTE equality of the subtracted
    * filter, not merely equal query answers (the spec pins the bytes) —
    * the strongest invariance any twin in this file can claim. The
    * stored filter is never touched at stream time; decrements fold in
    * at serve or by compaction. */
  def startStreamingCbloomDeletes(docStream: DataFrame, decPath: String,
                                  checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(batch
        .select(graft.functions.TextFunctions.bagFingerprint("text").as("fp"))
        .agg(expr("cbloom_build(fp)").as("dsk")), decPath, batchId)
    }

  /** Streaming WITHIN-document repetition cut — the stream-time twin of
    * q184. The operator is per-document (a doc's cut depends only on
    * its own grams), so unlike the other twins it needs NO at-rest
    * state at all: each arriving micro-batch is cut on its own and the
    * cleaned docs land under `clean/batch_run=N`. Batch-split-invariant
    * by construction — a doc's cleaned text is the same whichever batch
    * carries it — which makes this the cheapest pass to push to the
    * ingest edge: template spam shrinks to one period before it ever
    * reaches the archive. */
  def startStreamingIntradocCut(docStream: DataFrame, cleanPath: String,
                                checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.LlmQueries.intradocDedupOf(batch),
        cleanPath, batchId)
    }

  /** Streaming skip-gram training-pair generation — the stream-time
    * twin of q186 under the frozen-artifact discipline (q151's
    * codebook, q178's postings): the base corpus's vocabulary
    * statistics — token counts, the unigram^0.75 cumulative intervals —
    * are built ONCE before the stream starts and every arriving
    * micro-batch of documents is subsampled, paired, and
    * negative-sampled against those frozen tables alone. Because pairs
    * are strictly within-document and every hash draw keys on
    * (doc, pos), the emitted stream is batch-split-invariant: any
    * partition of the docs into micro-batches lands the identical pair
    * set under `pairs/batch_run=N`. Batch words outside the base vocab
    * drop out — the stats never shift mid-stream. */
  def startStreamingSkipgram(docStream: DataFrame, baseDocs: DataFrame,
                             pairsPath: String,
                             checkpoint: String): StreamingQuery = {
    val pairsFor = graft.operators.LlmQueries
      .skipgramPairsWithFrozenStats(baseDocs)
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(pairsFor(batch), pairsPath, batchId)
    }
  }

  /** Streaming BPE tokenization with a FROZEN trained vocabulary — the
    * tokenizer's stream-time twin (q183 under the q151 frozen-artifact
    * discipline): the merge list and fully-merged vocab are trained
    * ONCE on the base corpus before the stream starts
    * ([[graft.operators.LlmQueries.bpeTokenizeFrozen]]); each arriving
    * micro-batch tokenizes against those artifacts alone — vocab
    * pieces by broadcast join, unseen pieces by folding the frozen
    * merges — and its per-doc token accounting lands under
    * `batch_run=N`. The ingest edge thus prices every document in
    * tokens (budget accounting, packing input) the moment it arrives,
    * with a tokenizer that cannot drift mid-stream. */
  def startStreamingBpeTokenize(docStream: DataFrame, baseDocs: DataFrame,
                                outPath: String,
                                checkpoint: String): StreamingQuery = {
    val tokenizeFor = graft.operators.LlmQueries.bpeTokenizeFrozen(baseDocs)
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(tokenizeFor(batch), outPath, batchId)
    }
  }

  /** Streaming WordPiece tokenization with a FROZEN vocabulary — the
    * q246 serve at the ingest edge, mirroring the BPE twin above: the
    * (kind, piece) vocab derives ONCE from the base corpus before the
    * stream starts; each arriving micro-batch segments against it
    * alone (greedy longest-match, [UNK] for OOV words) and lands its
    * per-doc piece accounting under `batch_run=N`. Segmentation is
    * per-document under a frozen vocab, so the output is
    * batch-split-invariant by construction. */
  def startStreamingWordpiece(docStream: DataFrame, baseDocs: DataFrame,
                              outPath: String,
                              checkpoint: String): StreamingQuery = {
    val vocab = graft.core.EngineCache.persisted(
      graft.operators.LlmQueries.wordpieceVocabOf(baseDocs))
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.LlmQueries.wordpieceFrozenOf(batch, vocab),
        outPath, batchId)
    }
  }

  /** Streaming frozen-unigram segmentation — the stream-time twin of
    * q258 and the third tokenizer stream beside WordPiece's: the
    * (piece, l6) distribution trains once on the base corpus, each
    * arriving micro-batch is the only text word-split and segments
    * through the [[graft.functions.UnigramViterbi]] kernel —
    * per-document pure under a frozen distribution, so outputs are
    * batch-split-invariant by construction — landing under
    * `batch_run=N`. Safe under foreachBatch with zero temp views: the
    * kernel transports the bounded piece table as a plan constant. */
  def startStreamingUnigram(docStream: DataFrame, baseDocs: DataFrame,
                            outPath: String,
                            checkpoint: String): StreamingQuery = {
    val pieces = graft.core.EngineCache.persisted(
      graft.operators.LlmQueries.unigramPiecesOf(baseDocs))
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.LlmQueries.unigramFrozenOf(batch, pieces),
        outPath, batchId)
    }
  }

  /** Streaming BM25 index maintenance — the stream-time twin of q178:
    * each arriving micro-batch of (doc_id, text) rows is tokenized
    * alone and its postings (term, doc_id, tf, shard) land under
    * `postings/batch_run=N`, its doc lengths under
    * `doclen/batch_run=N`. A serve tier reading the base tables plus
    * these partitions answers with the new docs one trigger after they
    * arrive — no base re-tokenize anywhere (BM25's statistics decompose
    * over disjoint doc sets). */
  def startStreamingPostingsAppend(docStream: DataFrame, outPath: String,
                                   checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.landAll(batchId)(Seq(
        graft.operators.CorpusOps.bm25PostingsOf(batch) -> s"$outPath/postings",
        graft.operators.CorpusOps.bm25DoclenOf(batch) -> s"$outPath/doclen"))
    }

  /** Streaming quality-DRIFT monitor — the stream-time twin of q167:
    * every arriving micro-batch of (doc_id, text) rows is scored
    * against the AT-REST corpus quality-bin baseline
    * ([[graft.operators.CorpusOps.psiBaselineAtRest]]), yielding one
    * (n_docs, psi) row per batch under `batch_run=N` — the live alarm
    * an ingest pipeline watches (PSI > 0.25 = the arriving data no
    * longer looks like the corpus). Only the batch is scanned; the
    * baseline is 10 stored rows. */
  def startStreamingQualityDrift(docStream: DataFrame, baseline: DataFrame,
                                 outPath: String,
                                 checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.CorpusOps.psiOfBatch(batch, baseline),
        outPath, batchId)
    }

  /** Streaming incremental SUBSTRING dedup — the stream-time twin of
    * q171: each arriving micro-batch of (doc_id, text) rows is the only
    * text tokenized; its positional gram hashes semi-join the AT-REST
    * corpus gram set (built once, [[graft.operators.LlmQueries
    * .corpusGramsAtRest]]) and the matched spans merge into the q162
    * profile for just that batch, landing under `batch_run=N`. Per-doc
    * output is independent of batch splits (the profile only consults
    * the stored set), so replay and re-batching cannot change a row. */
  def startStreamingSpanDedup(docStream: DataFrame, corpusGrams: DataFrame,
                              outPath: String,
                              checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(
        graft.operators.LlmQueries.spanIncrementOf(batch, corpusGrams),
        outPath, batchId)
    }

  /** Streaming quality scoring with a FROZEN trained classifier — the
    * stream-time twin of q163: the model (four doubles from
    * [[graft.operators.StatsOps.trainedClsWeights]], trained once on the
    * at-rest corpus) is closed over and applied to each arriving
    * micro-batch; scores land under `batch_run=N`. Only the batch is
    * ever scanned — train-once / score-forever, the q151
    * frozen-codebook discipline for the text-quality leg. */
  def startStreamingQualityScore(docStream: DataFrame, weights: Array[Double],
                                 outPath: String,
                                 checkpoint: String): StreamingQuery =
    BatchSink.start(docStream, checkpoint) { (batch, batchId) =>
      BatchSink.land(graft.operators.StatsOps.scoreWithWeights(batch, weights),
        outPath, batchId)
    }

  // ---- custom stateful sessionization (flatMapGroupsWithState) ----

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sumValue: Double)
  case class SessionOut(user_id: Long, sess_start: Timestamp, sess_end: Timestamp,
                        n_events: Int, sum_value: Double)

  /** Gap-based sessionization with explicit state — the pattern for
    * session logic the built-in session_window can't express (per-session
    * aggregates, custom close conditions).
    *
    * Timeouts are EVENT-time, armed at `last + gap` against the stream's
    * watermark: deterministic under test (SURVEY.md §7.4 — no wall clock)
    * and, unlike processing-time timeouts, the engine quiesces when no
    * data is flowing instead of spinning empty micro-batches re-checking
    * timers. Idle users' state is dropped when the watermark passes their
    * gap, so state stays O(active users). */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[List[SessionState]]) =>
          val wm = state.getCurrentWatermarkMs()
          // event-time timeout timestamps must sit strictly past the watermark
          def arm(open: List[SessionState]): Unit = open match {
            case s :: _ =>
              state.update(open)
              state.setTimeoutTimestamp(math.max(s.last + gapMs, wm + 1))
            case Nil => state.remove()
          }
          if (state.hasTimedOut) {
            val (expired, open) = state.getOption.getOrElse(Nil)
              .partition(s => s.last + gapMs <= wm)
            arm(open)
            expired.map(s => close(userId, s)).iterator
          } else {
            // fold this batch's events (sorted by ts) into open sessions
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case s :: rest if t - s.last <= gapMs =>
                  // a late event from a later micro-batch may carry an
                  // earlier ts than the session's current end — never move
                  // the session boundary backwards (it would re-arm the
                  // event-time timeout too early and close the session
                  // prematurely)
                  open = s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t),
                    n = s.n + 1, sumValue = s.sumValue + e.value) :: rest
                case s :: rest =>
                  closed ::= close(userId, s)
                  open = SessionState(t, t, 1, e.value) :: rest
                case Nil =>
                  open = SessionState(t, t, 1, e.value) :: Nil
              }
            }
            arm(open)
            closed.reverseIterator
          }
      }
  }

  private def close(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sumValue)

  /** Stream-stream inner join: purchases matched to same-user clicks in
    * the preceding `lookback` — the streaming form of the as-of pattern.
    * Both sides carry watermarks and the join condition bounds c_ts in
    * [p_ts − lookback, p_ts], so Spark can size the join state buffer and
    * EXPIRE it as the watermark advances: state is O(events in the
    * lookback window per user), never unbounded — the only shape a
    * stream-stream join can survive at 100 TB/day. */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                          watermark: String = "10 minutes",
                          lookback: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
      .withWatermark("c_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", watermark)
    p.join(c, expr(
      s"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL $lookback AND p_ts"))
      .select(col("p_event"), col("p_user").as("user_id"), col("c_event"),
        col("c_ts"), col("p_ts"))
  }

  /** foreachBatch multi-sink: one micro-batch fans out to an aggregate
    * table and a raw archive, idempotent by batchId (§2.1.7): both
    * outputs are partitioned by batch_id and written with dynamic
    * partition overwrite, so a replayed micro-batch (sink failure →
    * checkpoint restart re-runs the same batchId) REPLACES its own
    * partition instead of appending a duplicate — exactly-once at the
    * table level, not merely at-least-once. */
  def multiSink(events: DataFrame, aggPath: String, rawPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // per-write option, NOT a session conf set — mutating the shared
      // session would silently flip every later overwrite write on this
      // SparkSession to dynamic mode
      batch.persist()
      try {
        batch.withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(rawPath)
        batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(aggPath)
      } finally batch.unpersist() // also when a write throws
    }
}
