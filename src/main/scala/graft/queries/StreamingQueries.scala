package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.streaming.StreamingCube

/** Structured-Streaming battery: the stream path must reproduce the
  * batch backfill bit-for-bit (decimal partials), so both queries are
  * oracle-checked against plain SQL over the same events table.
  */
object StreamingQueries {

  private val runId = new AtomicInteger(0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // readStream → watermark → windowed agg → AvailableNow drain
    "q_stream_window" -> ((s, dir) =>
      StreamingCube.runDailyAgg(s, dir,
        s"stream_daily_${runId.incrementAndGet()}")),

    // streaming exact dedup: incremental min-doc_id-per-content-hash
    // (the stream form of q_dedup_exact; AvailableNow == batch parity)
    "q_stream_dedup" -> ((s, dir) =>
      StreamingCube.runStreamDedup(s, dir,
        s"stream_dedup_${runId.incrementAndGet()}")),

    // streaming NEAR-dup index: the MinHash LSH band table maintained
    // incrementally (representative + bucket size per band key)
    "q_stream_minhash" -> ((s, dir) =>
      StreamingCube.runStreamMinhashIndex(s, dir,
        s"stream_minhash_${runId.incrementAndGet()}")),

    // stateless streaming quality gate: classifier scores in append
    // mode, batch parity by shared expression tree
    "q_stream_quality" -> ((s, dir) =>
      StreamingCube.runStreamQuality(s, dir,
        s"stream_quality_${runId.incrementAndGet()}")),

    // streaming decontamination: bloom-negatives pass join-free, the
    // positive sliver verifies via a stream-static anti join
    "q_stream_decontaminate" -> ((s, dir) =>
      StreamingCube.runStreamDecontaminate(s, dir, evalMaxId = 250,
        s"stream_decon_${runId.incrementAndGet()}")),

    // streaming duplicated-span index: per-span-hash keeper/count/
    // cross-doc flag maintained incrementally (the stream form of the
    // q_dup_spans flag aggregate; AvailableNow == batch parity)
    "q_stream_spans" -> ((s, dir) =>
      StreamingCube.runStreamSpanIndex(s, dir,
        s"stream_spans_${runId.incrementAndGet()}")),

    // streaming LM gate: score arriving docs against a static trained
    // vocab (stream-static joins; stream == batch scores bit-for-bit)
    "q_stream_lm" -> ((s, dir) =>
      StreamingCube.runStreamLmScore(s, dir,
        s"stream_lm_${runId.incrementAndGet()}")),

    // streaming PQ index ingest: arriving vectors encoded map-side
    // against static-trained codebooks (stateless append mode)
    "q_stream_pq" -> ((s, dir) =>
      StreamingCube.runStreamPqEncode(s, dir,
        s"stream_pq_${runId.incrementAndGet()}")),

    // streaming BM25 gate: arriving docs scored map-only against the
    // static-trained index stats (stateless; stream == batch scores)
    "q_stream_bm25" -> ((s, dir) =>
      StreamingCube.runStreamBm25(s, dir,
        s"stream_bm25_${runId.incrementAndGet()}")),

    // batch form of the stateful sessionization (the backfill path a
    // stream restart uses) — same oracle as the stream twin
    "q_sessionize" -> ((s, dir) =>
      StreamingCube.sessionizeBatch(Tables.load(s, dir, "events"), 30)),

    // complete-mode streaming vocabulary top-k (live corpus vocab)
    "q_stream_vocab" -> ((s, dir) =>
      StreamingCube.runStreamVocab(s, dir,
        s"stream_vocab_${runId.incrementAndGet()}")),

    // stream-stream interval join: two live feeds correlated on
    // user + time range; watermarks bound both sides' join state
    "q_stream_sjoin" -> ((s, dir) =>
      StreamingCube.runStreamStreamJoin(s, dir,
        s"stream_sjoin_${runId.incrementAndGet()}")),

    // stateful streaming rolling features: bounded ring-buffer state
    // per user (stream == the batch window formulation bit-for-bit)
    "q_stream_rolling" -> ((s, dir) =>
      StreamingCube.runStreamRolling(s, dir,
        s"stream_rolling_${runId.incrementAndGet()}")),

    // streaming as-of: arriving purchases probe a static click-state
    // interval table (stateless stream-static bucketized equi-join;
    // stream == the batch tolerance as-of row-for-row)
    "q_stream_asof" -> ((s, dir) =>
      StreamingCube.runStreamAsof(s, dir,
        s"stream_asof_${runId.incrementAndGet()}")),

    // flatMapGroupsWithState sessionization riding the file-source
    // stream end-to-end (AvailableNow drain; the same stateful
    // function is additionally spec-tested with MemoryStream batches)
    "q_stream_sessionize" -> ((s, dir) =>
      StreamingCube.runStreamSessionize(s, dir,
        s"stream_sess_${runId.incrementAndGet()}")),

    // streaming cluster-index ingest: every micro-batch appends to
    // the PERSISTED near-dup cluster index (batchId = ingest
    // generation, replay-idempotent); the drained labels equal the
    // one-shot batch connected components for any batching
    "q_stream_clusters" -> ((s, dir) =>
      StreamingCube.runStreamClusterIndex(s, dir,
        s"stream_cidx_${runId.incrementAndGet()}"))
  )

  val oracleSql: Map[String, String] = Map(
    "q_stream_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d_date, event_type,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(38,10))) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the streaming gates ARE the batch ops on a stream — their
    // oracles are the batch entries, referenced, not copied
    "q_stream_quality" ->
      PipelineQueries.oracleSql("q_quality_classifier"),

    // the streaming LM gate scores the whole corpus with the
    // corpus-trained vocab — identical to the batch self-trained score
    "q_stream_lm" -> PipelineQueries.oracleSql("q_lm_score"),

    // ingest with corpus-trained codebooks == the batch encode
    "q_stream_pq" -> PipelineQueries.oracleSql("q_pq_encode"),

    "q_stream_decontaminate" ->
      PipelineQueries.oracleSql("q_decontaminate_bloom"),

    // the stream-static interval probe == the batch tolerance as-of
    "q_stream_asof" -> FeatureQueries.oracleSql("q_asof_tolerance"),

    // the ring-buffer stream == the batch trailing-window features
    "q_stream_rolling" -> FeatureQueries.oracleSql("q_rolling_features"),

    // fully drained stream-stream join == the batch range join
    "q_stream_sjoin" -> FeatureQueries.oracleSql("q_range_join"),

    // the batch lag-window formulation == the stream's session counts
    "q_sessionize" -> SESSIONIZE_SQL,

    // the drained complete-mode vocab == the batch induction
    "q_stream_vocab" -> PipelineQueries.oracleSql("q_vocab_topk"),

    // incremental index ingest == the one-shot transitive closure
    "q_stream_clusters" -> PipelineQueries.oracleSql("q_dedup_clusters"),

    // the gate scores with corpus-trained stats == the batch scored
    // set minus the top-k cut (one shared CTE definition)
    "q_stream_bm25" ->
      s"""WITH ${FeatureQueries.BM25_SCORED_CTES}
         |SELECT query_id, doc_id, score FROM scored""".stripMargin,

    "q_stream_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |     for i in range(1, len(t) - 1)]) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |base AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
        |     for s in shingles] AS bh
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    [list_min([((2*i+3) * h + 7*i+1) % 2147483647 for h in bh])
        |      for i in range(0, 8)] AS sig
        |  FROM base),
        |banded AS (
        |  SELECT doc_id, CAST(b AS INT) AS band_idx,
        |    CAST(sig[2*b+1] AS VARCHAR) || '_' ||
        |      CAST(sig[2*b+2] AS VARCHAR) AS band_sig
        |  FROM sig, range(0, 4) r(b))
        |SELECT band_idx, band_sig, min(doc_id) AS rep_id,
        |  count(*) AS n_docs
        |FROM banded GROUP BY 1, 2""".stripMargin,

    "q_stream_spans" ->
      s"""WITH ${PipelineQueries.SPAN_CTES}
         |SELECT sh, min(doc_id) AS keeper,
         |  count(*) AS n_occ,
         |  min(doc_id) < max(doc_id) AS cross_doc
         |FROM spans GROUP BY sh""".stripMargin,

    "q_stream_sessionize" -> SESSIONIZE_SQL
  )

  /** One definition for the batch AND stream sessionize oracles
    * (lazy: referenced from `oracleSql`, which initializes first).
    */
  private lazy val SESSIONIZE_SQL =
    """WITH w AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN prev_ts IS NULL
      |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |    THEN 1 ELSE 0 END) AS INT) AS n_sessions
      |FROM w GROUP BY 1""".stripMargin
}
