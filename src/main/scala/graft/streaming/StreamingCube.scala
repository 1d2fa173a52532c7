package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming cube maintenance — the extension flagged in
  * SURVEY §2.10: fact deltas arrive as a stream, pre-aggregation is a
  * watermarked windowed groupBy, and custom state (sessionization) uses
  * flatMapGroupsWithState.
  *
  * Scale design:
  *  - The stream aggregation is keyed on (window, event_type): state per
  *    key is one partial aggregate, and the watermark bounds state size
  *    (old windows are dropped once the watermark passes) — so a
  *    perpetual 100 TB/day stream holds only the open windows in state.
  *  - Sums carried as DECIMAL(38,10) partials, so merged per-batch
  *    results are order-independent and reproducible against a batch
  *    backfill — stream and batch agree bit-for-bit, which is what makes
  *    the lambda-architecture "stream = incremental batch" contract
  *    testable.
  *  - `Trigger.AvailableNow` drains all available input then stops: the
  *    same code path serves both continuous tailing and deterministic
  *    catch-up/backfill runs (used by the oracle-checked query below).
  */
object StreamingCube {

  /** File-source stream over the events parquet. The file source needs
    * a directory to monitor (new files arriving = new stream data), so
    * the single testdata file is staged into a per-sfDir directory —
    * in production this would be the landing directory the ingest jobs
    * append parquet files to.
    *
    * The declared schema mirrors whatever the batch reader sees for the
    * same file (footer read — driver-side metadata, no data scan), and
    * ts is normalized exactly like Tables.load: the generator has
    * shipped both INT64 TIMESTAMP(NANOS) (long + div 1000) and
    * TIMESTAMP(MICROS) NTZ (cast to session-zone timestamp) variants.
    */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema =
      spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.Tables.normalizeEventTs(spark.readStream
      .schema(batchSchema)
      .parquet(stageDir(sfDir)))
  }

  /** Lazily create /tmp/graft_stream/<hash>/<table>.parquet as a link
    * (or copy) of the read-only testdata file.
    */
  private def stageDir(sfDir: String, table: String = "events"): String = {
    import java.nio.file._
    val dir = Paths.get("/tmp/graft_stream",
      Integer.toHexString(sfDir.hashCode), table)
    Files.createDirectories(dir)
    val src = Paths.get(sfDir, s"$table.parquet")
    val target = dir.resolve(s"$table.parquet")
    // A symlink always reflects the live testdata file; a COPY (the
    // symlink-unsupported fallback) can go stale when the driver
    // regenerates testdata in place — and the stream schema is read
    // from the live footer, so a stale copy would silently decode with
    // the wrong variant. Refresh the copy when size or mtime diverges.
    val stale = Files.exists(target) && !Files.isSymbolicLink(target) && (
      Files.size(target) != Files.size(src) ||
        Files.getLastModifiedTime(target)
          .compareTo(Files.getLastModifiedTime(src)) < 0)
    if (stale) Files.delete(target)
    if (!Files.exists(target)) {
      try Files.createSymbolicLink(target, src)
      catch { case _: Exception => Files.copy(src, target) }
    }
    dir.toString
  }

  /** File-source stream over the documents parquet (schema read once
    * from the footer — driver-side metadata, no data scan).
    */
  def docStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream.schema(schema).parquet(stageDir(sfDir, "documents"))
  }

  /** An isolated session for stream construction: the narrow
    * state-store partitioning is set on a `newSession()` clone (shared
    * SparkContext, private SQL conf), so concurrent batch queries on
    * the caller's session never see the mutated shuffle-partition
    * setting (ADVICE r5 — the previous set/restore window leaked it).
    */
  private def isolated(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** Streaming exact dedup — the stream form of `DedupOps.exactDedup`:
    * survivors = min doc_id per content hash, maintained incrementally
    * as documents arrive. Complete-mode aggregation: the state IS the
    * distinct-content table, inherently O(distinct docs) for EXACT
    * dedup in any engine (an infinite stream that must never re-admit
    * an old duplicate has to remember every content hash; bound the
    * state with a watermark only when re-admission after the horizon
    * is acceptable). Hash grouping keys and integer min are
    * order-independent, so the AvailableNow drain reproduces the batch
    * backfill bit-for-bit.
    */
  def runStreamDedup(spark: SparkSession, sfDir: String,
      name: String = "stream_dedup"): DataFrame = {
    val s = isolated(spark)
    drain(docStream(s, sfDir)
      .select(expr("md5(text)").as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id")),
      name, OutputMode.Complete)
  }

  /** Drain a (bounded) streaming frame into a memory sink with the
    * AvailableNow trigger and return the sink table — the shared tail
    * of every runStream* entry.
    */
  private def drain(df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** Streaming quality gate: the hashed linear classifier applied to
    * arriving documents — stateless map-only scoring, so the stream
    * emits in append mode with no state store and batch parity is
    * exact (same expression tree as `TextOps.qualityClassifier`).
    */
  def runStreamQuality(spark: SparkSession, sfDir: String,
      name: String = "stream_quality"): DataFrame = {
    val s = isolated(spark)
    drain(graft.ops.TextOps.qualityClassifier(docStream(s, sfDir)),
      name, OutputMode.Append)
  }

  /** Streaming decontamination gate: the Bloom prefilter riding a
    * stream — bloom-negative documents pass with NO join and no state;
    * the bloom-positive sliver is exactly verified with a
    * stream-static anti join against the (static) eval frame. Append
    * mode, stateless: the stream-side row either survives the batch it
    * arrived in or is dropped — the same per-row decision the batch
    * [[graft.ops.DedupOps.decontaminateBloom]] makes, so stream ≡
    * batch row-for-row.
    */
  def runStreamDecontaminate(spark: SparkSession, sfDir: String,
      evalMaxId: Long, name: String = "stream_decon"): DataFrame = {
    val s = isolated(spark)
    val evalTexts = s.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < evalMaxId)
    val stream = docStream(s, sfDir).filter(col("doc_id") >= evalMaxId)
    // THE batch gate, applied to a streaming frame: every piece of
    // decontaminateBloom (model build on the static side, map-only
    // probe, stream-static left_anti verify, union) is streaming-safe,
    // so stream ≡ batch is the same code, not a parallel copy
    drain(graft.ops.DedupOps.decontaminateBloom(stream, evalTexts),
      name, OutputMode.Append)
  }

  /** Streaming NEAR-dup index: the MinHash LSH band table maintained
    * incrementally as documents arrive — per (band_idx, band_sig)
    * bucket, the representative (min doc_id) and the bucket size. This
    * is the state a streaming near-dedup gate probes ("does the new
    * doc share a band with anything seen?"); the whole signature
    * pipeline (tokenize → shingle → base hash → k universal minhashes →
    * band keys) is stateless map-only work identical to the batch
    * lowering in `DedupOps.shingleBands`, so batch and stream agree
    * row-for-row. The stateful tail is one complete-mode aggregation
    * keyed on the band — state is O(distinct buckets), the same bound
    * the batch LSH shuffle pays.
    */
  def runStreamMinhashIndex(spark: SparkSession, sfDir: String,
      name: String = "stream_minhash",
      bands: Int = 4, rows: Int = 2): DataFrame = {
    val s = isolated(spark)
    val spread = spreadSmallDir(s, stageDir(sfDir, "documents"),
      docStream(s, sfDir))
    val sh = graft.ops.DedupOps.shingledRaw(spread)
    val banded = graft.ops.DedupOps.bandTable(sh, bands, rows)
    drain(banded
      .groupBy("band_idx", "band_sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs")),
      name, OutputMode.Complete)
  }

  /** Fan a micro-batch out BEFORE per-doc map work when the source
    * directory holds fewer files than half the parallelism: a
    * file-stream batch arrives with one partition per file, which
    * would serialize the tokenize→shingle→hash map chain on a single
    * core. Guarded like DedupOps.rebalanced — a real ingest directory
    * carries more files than cores and must NOT pay a standing text
    * shuffle per batch. The count goes through the Hadoop FileSystem
    * resolved from the session's configuration, so it is correct on
    * HDFS/object-store paths where java.io.File would silently return
    * empty (ADVICE r6).
    */
  private def spreadSmallDir(s: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val nFiles =
      if (fs.exists(p)) fs.listStatus(p).count(_.isFile) else 0
    if (nFiles < par / 2) df.repartition(par) else df
  }

  /** Streaming LM-score gate: unigram cross-entropy of arriving
    * documents against a STATIC trained vocabulary — the CCNet
    * deployment shape (train once on the trusted corpus, score the
    * crawl as it lands). The scoring dataflow is the SAME
    * [[graft.ops.TextOps.lmScoreTokens]] the batch query runs — the
    * hot-head broadcast and the cold-tail join become stream-static
    * joins (left_anti + inner, both streaming-supported with the
    * static side on the right); the per-doc (count, decimal sum)
    * aggregation holds one order-independent partial per doc in the
    * state store, so the AvailableNow drain reproduces the batch
    * scores bit-for-bit.
    */
  def runStreamLmScore(spark: SparkSession, sfDir: String,
      name: String = "stream_lm"): DataFrame = {
    val s = isolated(spark)
    val staticToks = s.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(expr(graft.ops.TextOps.TOKENS)).as("tok"))
    val (vocab, denom) = graft.ops.TextOps.lmModel(staticToks)
    val spread = spreadSmallDir(s, stageDir(sfDir, "documents"),
      docStream(s, sfDir))
    val toks = spread.select(col("doc_id"),
      explode(expr(graft.ops.TextOps.TOKENS)).as("tok"))
    drain(graft.ops.TextOps.lmScoreTokens(toks, vocab, denom),
      name, OutputMode.Complete)
  }

  /** Streaming PQ index ingest: vectors arriving on a stream are
    * encoded map-side against codebooks trained ONCE on the static
    * corpus — how a deployed ANN index grows (training is an offline
    * job; ingest must not retrain). Stateless append mode: the encode
    * is one literal-model projection ([[graft.ops.SimilarityOps
    * .pqEncodeWith]], the same expression tree as the batch query), so
    * stream ≡ batch row-for-row with no state store.
    */
  def runStreamPqEncode(spark: SparkSession, sfDir: String,
      name: String = "stream_pq"): DataFrame = {
    val s = isolated(spark)
    val static = s.read.parquet(s"$sfDir/embeddings.parquet")
    val models = graft.ops.SimilarityOps.pqTrain(static,
      m = 4, kSub = 8, iters = 2)
    val schema = static.schema
    val stream = s.readStream.schema(schema)
      .parquet(stageDir(sfDir, "embeddings"))
    drain(graft.ops.SimilarityOps.pqEncodeWith(stream, models),
      name, OutputMode.Append)
  }

  /** Streaming BM25 gate: arriving documents scored against a FIXED
    * query workload with statistics (df / N / avgdl) trained once on
    * the static corpus — the deployed-retrieval shape (index stats are
    * an offline artifact; ingest must not rescan the corpus).
    * Stateless append mode: the scorer is one literal-model projection
    * ([[graft.ops.RetrievalOps.bm25ScoreWith]], the same decimal-fold
    * expression tree as the batch path), so stream ≡ batch
    * row-for-row with no state store.
    */
  def runStreamBm25(spark: SparkSession, sfDir: String,
      name: String = "stream_bm25"): DataFrame = {
    val s = isolated(spark)
    val workload = graft.queries.FeatureQueries.BM25_QUERIES
    val stats = graft.ops.RetrievalOps.bm25Train(
      s.read.parquet(s"$sfDir/documents.parquet"), workload)
    val spread = spreadSmallDir(s, stageDir(sfDir, "documents"),
      docStream(s, sfDir))
    drain(graft.ops.RetrievalOps.bm25ScoreWith(spread, workload, stats),
      name, OutputMode.Append)
  }

  /** Streaming as-of enrichment: purchases arriving on the stream are
    * joined to the latest in-tolerance click STATE of their user,
    * where the state table is static (the deployed feature-store
    * shape: reference state is a published artifact, the stream only
    * probes it). The state is pre-lowered to validity INTERVALS
    * ([[graft.ops.TimeOps.asOfStateIntervals]]) and the probe is a
    * stateless stream-static bucketized equi-join — append mode, no
    * state store, no per-key window over the stream; the tolerance cap
    * is what bounds each interval's bucket fan-out. Row-for-row equal
    * to the batch [[graft.ops.TimeOps.asOfJoinTolerance]].
    */
  def runStreamAsof(spark: SparkSession, sfDir: String,
      name: String = "stream_asof"): DataFrame = {
    import graft.ops.TimeOps
    val s = isolated(spark)
    val tolUs = 3600000000L
    val static = graft.Tables.load(s, sfDir, "events")
    val intervals = TimeOps.asOfStateIntervals(
      static.filter(col("event_type") === "click"),
      "user_id", "ts", "event_id", Seq("value"), tolUs)
    val stream = eventStream(s, sfDir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val out = TimeOps.asOfJoinBucketed(stream, intervals, "user_id",
        "ts", Seq("value"), bucketUs = 1800000000L)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("asof_ts")).as("asof_ts_us"),
        col("asof_value"))
    drain(out, name, OutputMode.Append)
  }

  /** Streaming duplicated-SPAN index — the stream form of the span
    * min/max aggregation that [[graft.ops.DedupOps.dupSpans]] /
    * `removeDupSpans` build their flags from: per w-token span hash,
    * the keeper (min doc_id), occurrence count, and whether the span
    * crosses documents. The span lowering (tokenize → rolling window →
    * one md5 per span) is the SAME stateless map pipeline as the batch
    * `spanFrameRaw`; the stateful tail is one complete-mode
    * aggregation whose combiners (min/max/count) are
    * order-independent, so the AvailableNow drain reproduces the batch
    * index row-for-row. State is O(distinct spans) — the identical
    * bound the batch span shuffle pays per pass, held incrementally.
    */
  def runStreamSpanIndex(spark: SparkSession, sfDir: String,
      name: String = "stream_spans", w: Int = 8): DataFrame = {
    val s = isolated(spark)
    val spread = spreadSmallDir(s, stageDir(sfDir, "documents"),
      docStream(s, sfDir))
    drain(graft.ops.DedupOps.spanIndexOf(
      graft.ops.DedupOps.spanFrameRaw(spread, w).select("doc_id", "sh")),
      name, OutputMode.Complete)
  }

  /** Watermarked daily pre-aggregation per event type — the streaming
    * analog of the cube's (time, event_type) grain aggregate.
    */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("cast(value as decimal(38,10))")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Drain-all run: AvailableNow trigger into a memory sink (complete
    * mode emits every window, including those still inside the
    * watermark), returning the final table.
    */
  def runDailyAgg(spark: SparkSession, sfDir: String,
      name: String = "stream_daily"): DataFrame = {
    // Streaming state partitioning is fixed at the query's first run;
    // the aggregation state here is (open windows × event types) —
    // tiny — so a wide shuffle only multiplies state-store setup cost
    // (one HDFSBackedStateStore per partition per batch). 8 partitions
    // is plenty for state while the stateless pre-aggregation still
    // parallelizes across input files/cores.
    val s = isolated(spark)
    val q = dailyAgg(eventStream(s, sfDir))
      .select(to_date(col("window.start")).as("d_date"),
        col("event_type"), col("n_events"), col("sum_value"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  // ------------------------------------------------- cube maintenance

  /** Incremental cube maintenance: as fact deltas arrive, flush the
    * segment-cache regions their member coordinates touch, so the next
    * query at an affected grain recomputes while unaffected segments
    * stay cached — the streaming analog of the reference's
    * flush_region_cache after fact-table updates
    * (cube_cache_control_test.rb:116-218: delete/update rows → flush
    * region → new totals).
    *
    * `regionDims` maps a delta column to the cube dimension it
    * coordinates (e.g. "event_type" -> "event_type"). Each micro-batch
    * collects the distinct touched members (delta batches are small;
    * the distinct is batch-local) and evicts intersecting segments.
    */
  def maintain(events: DataFrame, cubeId: Long,
      regionDims: Map[String, String],
      cache: graft.olap.SegmentCache): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        regionDims.foreach { case (column, dim) =>
          batch.select(column).distinct().collect().foreach { r =>
            cache.flushRegion(cubeId, dim, Seq(r.get(0)))
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Incremental segment MERGE: instead of evicting touched regions,
    * fold each micro-batch of fact inserts INTO the cached aggregates.
    * Per batch, every cached segment of the cube either (a) merges the
    * delta aggregated at its own grain/slicer (decomposable measures:
    * sum/count/min/max) or (b) evicts (avg, distinct-count, stats).
    *
    * Scale: the delta aggregate is a groupBy over the micro-batch only
    * — cost proportional to the DELTA, not the 100 TB fact. The merge
    * itself is a full-outer join between two pre-aggregated frames
    * (segment-sized, not fact-sized).
    */
  def maintainMerge(deltas: DataFrame, cube: graft.olap.BoundCube,
      cache: graft.olap.SegmentCache): org.apache.spark.sql.streaming.StreamingQuery = {
    val planner = new graft.olap.Planner(cube)
    deltas.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyDeltaBatch(batch, cube, cache, planner)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One micro-batch of the merge path (also the batch-backfill entry —
    * the spec drives it directly).
    */
  def applyDeltaBatch(batch: DataFrame, cube: graft.olap.BoundCube,
      cache: graft.olap.SegmentCache,
      planner: graft.olap.Planner): Unit =
    cache.mergeOrEvict(cube.cubeId) { key =>
      val plan = planner.mergePlanFor(key.measures)
      if (plan.length != key.measures.length) None
      else planner.deltaSegment(key.grain, key.slicer, key.measures, batch)
        .map(df => (df, plan))
    }

  // ------------------------------------------------------- sessionization

  final case class Evt(user_id: Long, tsMicros: Long)
  final case class SessionState(lastTs: Long, nSessions: Int)
  final case class UserSessions(user_id: Long, n_sessions: Int)

  /** Per-user session counting with a gap timeout — the
    * flatMapGroupsWithState pattern (KeyValueGroupedDataset custom
    * state). Events within `gap` of the previous event continue a
    * session; a larger gap opens a new one. Batch-deterministic: events
    * are sorted per key inside the group function.
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Long): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Evt], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.tsMicros)
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0))
          sorted.foreach { e =>
            if (s.lastTs == Long.MinValue || e.tsMicros - s.lastTs > gapMicros)
              s = SessionState(e.tsMicros, s.nSessions + 1)
            else s = SessionState(e.tsMicros, s.nSessions)
          }
          state.update(s)
          Iterator(UserSessions(uid, s.nSessions))
      }
  }

  /** Streaming sessionization END-TO-END: the same
    * flatMapGroupsWithState function the spec drives with MemoryStream
    * batches, here riding the file-source event stream. Append mode
    * emits each user's RUNNING session count once per micro-batch the
    * user appears in; the count is monotone, so max(n_sessions) per
    * user is the final figure whatever batch split AvailableNow chose
    * (state carries across batches). Within-batch events are sorted by
    * the group function; cross-batch order follows file discovery
    * order — for the single staged file this drains as one batch,
    * which is the deterministic backfill contract the oracle checks.
    */
  def runStreamSessionize(spark: SparkSession, sfDir: String,
      name: String = "stream_sessionize"): DataFrame = {
    val s = isolated(spark)
    import s.implicits._
    val evts = eventStream(s, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Evt]
    drain(sessionize(evts, gapMinutes = 30).toDF(),
      name, OutputMode.Append)
      .groupBy("user_id")
      .agg(max("n_sessions").cast("int").as("n_sessions"))
  }

  /** Streaming vocabulary induction: complete-mode token counts with
    * an in-query top-k (orderBy+limit is legal under Complete output) —
    * the live "what is the corpus vocabulary right now" view of the
    * batch [[graft.ops.TextOps.vocabTopK]]. State is O(distinct
    * tokens) — the same bound the batch shuffle pays — and the
    * AvailableNow drain equals the batch top-k row-for-row.
    */
  def runStreamVocab(spark: SparkSession, sfDir: String,
      name: String = "stream_vocab", topK: Int = 100): DataFrame = {
    val s = isolated(spark)
    val toks = docStream(s, sfDir)
      .select(explode(expr(graft.ops.TextOps.TOKENS)).as("token"))
    drain(toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(topK),
      name, OutputMode.Complete)
  }

  /** STREAM-STREAM interval join: clicks and error-windows both arrive
    * as streams and join on user + a time-range condition — the
    * two-live-feeds correlation (batch form: `TimeOps.rangeJoin`).
    * Both sides carry event-time watermarks and the join predicate
    * time-bounds each side against the other, which is exactly what
    * lets Spark EVICT state: a buffered click older than watermark +
    * 30min can never match a future error row, so state stays bounded
    * by the watermark horizon at any stream length — the stream-stream
    * join contract. AvailableNow drains both sides fully, so the
    * result equals the batch range join (the shared oracle).
    */
  def runStreamStreamJoin(spark: SparkSession, sfDir: String,
      name: String = "stream_sjoin"): DataFrame = {
    val s = isolated(spark)
    // Tried and REVERTED (r20, VERDICT r19 item 3): disabling no-data
    // micro-batches for this inner join (result-identical — inner-join
    // rows emit in data batches, the no-data batch only evicts state)
    // measured 2.98 → 10.36 s min-of-4: AvailableNow's prompt
    // termination rides the no-data batch, and without it the drain
    // idles on the termination-check interval. The trailing batch is
    // load-bearing machinery, not waste.
    val clicks = eventStream(s, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    val wins = eventStream(s, sfDir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        col("ts").as("w_ts"))
      .withWatermark("w_ts", "1 hour")
    drain(clicks.join(wins,
        col("user_id") === col("w_user") &&
          col("ts") >= col("w_ts") &&
          col("ts") < col("w_ts") + expr("INTERVAL 30 MINUTES"))
      .select("event_id", "win_id"), name, OutputMode.Append)
  }

  // ---------------------------------------------- exactly-once sink

  /** Idempotent per-batch parquet sink for `foreachBatch` — the
    * exactly-once landing pattern: every micro-batch OVERWRITES its
    * own `batch=<id>/` directory, keyed by the checkpointed batchId.
    * A replayed batch (failure between the sink write and the
    * checkpoint commit — Structured Streaming's foreachBatch is
    * at-least-once) rewrites the same directory with the same rows
    * instead of appending duplicates, so the sink as a whole is
    * effectively exactly-once for deterministic batches. Readers load
    * `path` as one partitioned dataset; the batch column doubles as
    * ingest lineage.
    */
  def idempotentBatchSink(path: String)(batch: DataFrame,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Drain the documents stream into an [[idempotentBatchSink]] and
    * return the landed dataset — the ingest shape a 100 TB/day
    * pipeline runs continuously (AvailableNow here for deterministic
    * backfill).
    */
  def runExactlyOnceIngest(spark: SparkSession, sfDir: String,
      path: String): DataFrame = {
    val s = isolated(spark)
    val q = docStream(s, sfDir).writeStream
      .foreachBatch(idempotentBatchSink(path) _)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$path-chk")
      .start()
    q.awaitTermination()
    s.read.parquet(path)
  }

  /** Streaming CLUSTER-INDEX ingest — continuous corpus arrival
    * feeding the persisted near-dup cluster index: the index is
    * (re)built empty, then every micro-batch of documents appends its
    * verified EDGES ([[graft.ops.DedupOps.appendEdgesToClusterIndex]])
    * with the checkpointed batchId keying its ingest generation — the
    * [[idempotentBatchSink]] exactly-once contract lifted from "land
    * the rows" to "maintain a semantic index": an at-least-once
    * replay overwrites its own doc/shingle/band/edge partitions and
    * converges. Per-batch cost is O(batch) banding plus the batch's
    * band matches plus the batch's edge write — it scales with the
    * BATCH, never with the corpus's accumulated duplicate mass,
    * because label publication is decoupled: snapshots
    * ([[graft.ops.DedupOps.snapshotClusterLabels]]) fold only the
    * edges since the previous snapshot and run every `snapshotEvery`
    * batches plus once at drain end. The final labels are
    * ARRIVAL-ORDER INVARIANT (connectivity union is commutative and
    * labels are component minima), so ANY batching of the same
    * documents equals the one-shot batch [[graft.ops.DedupOps
    * .writeClusterIndex]] — spec-pinned across batch splits.
    *
    * `compactEvery` (0 = never) wires the small-file housekeeping
    * into the lifecycle: every N batches,
    * [[graft.ops.DedupOps.compactClusterIndex]] folds the snapshotted
    * ingest history into one base partition per table, bounded at
    * ingestId - 1 so the one batch the checkpoint can still replay is
    * never folded, plus one unbounded pass at drain end — the listing
    * surface stays O(ingests since last compaction) instead of
    * O(history) at production cadence.
    */
  def clusterIndexIngest(stream: DataFrame, emptyLike: DataFrame,
      indexPath: String, chkPath: String,
      snapshotEvery: Int = 4, compactEvery: Int = 0): DataFrame = {
    // fail fast: a 0 would modulo-throw inside foreachBatch AFTER the
    // index was wiped and partially re-ingested
    require(snapshotEvery >= 1,
      s"snapshotEvery must be >= 1, got $snapshotEvery")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = never), got $compactEvery")
    // the index and the checkpoint live or die TOGETHER: this entry
    // always (re)builds the index empty, so a surviving checkpoint
    // from a crashed prior run would make AvailableNow skip its
    // already-committed batches and the fresh index would silently
    // miss them — wipe the checkpoint whenever the index is wiped.
    // Ordering + guard (ADVICE r9): the index wipe goes FIRST, so its
    // marker check has already vetoed a typo'd root before anything
    // is deleted, and the checkpoint path itself is only recursively
    // deleted when it is missing/empty or recognizably a Spark
    // streaming checkpoint (offsets/ or metadata present) — never an
    // arbitrary directory.
    val index = graft.ops.DedupOps.writeClusterIndex(
      emptyLike.limit(0), indexPath)
    val chk = new org.apache.hadoop.fs.Path(chkPath)
    val fs = chk.getFileSystem(
      stream.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(chk)) {
      val entries = fs.listStatus(chk).map(_.getPath.getName).toSet
      require(entries.isEmpty || entries.contains("offsets") ||
          entries.contains("metadata"),
        s"$chkPath exists but does not look like a Spark streaming " +
          "checkpoint (no offsets/ or metadata entry) — refusing to " +
          "recursively delete it")
      fs.delete(chk, true)
    }
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        // housekeeping BEFORE the append, bounded at ingestId - 1:
        // every ingest strictly below this batch is checkpoint-
        // committed and can never replay, so folding it is safe; this
        // batch's OWN ingest may replay (its snapshot can publish
        // before the checkpoint commit crashes) and must never fold —
        // the bound is what keeps the replay from hitting the
        // compacted base's fingerprint refusal. A compaction that
        // crashed mid-swap resumes here on the replayed batch
        // (deterministic trigger), completing before the append's
        // no-compact-in-flight guard runs.
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
          graft.ops.DedupOps.compactClusterIndex(b.sparkSession, index,
            maxFold = id)
          ()
        }
        graft.ops.DedupOps.appendEdgesToClusterIndex(index,
          b.select("doc_id", "text"), id + 1)
        // periodic snapshot INSIDE the batch keeps replay idempotent:
        // a crash between snapshot and checkpoint commit replays the
        // batch, which overwrites the same edge partitions and then
        // re-publishes the identical generation
        if ((id + 1) % snapshotEvery == 0) {
          graft.ops.DedupOps.snapshotClusterLabels(b.sparkSession, index)
          ()
        }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", chkPath)
      .start()
    q.awaitTermination()
    // fold any tail batches past the last periodic snapshot
    graft.ops.DedupOps.snapshotClusterLabels(stream.sparkSession, index)
    // drained: no batch can replay anymore (this entry always rebuilds
    // index + checkpoint together), so the final compaction is
    // unbounded — the published index is one base partition per table
    if (compactEvery > 0) {
      graft.ops.DedupOps.compactClusterIndex(stream.sparkSession, index)
      ()
    }
    graft.ops.DedupOps.readClusterLabels(stream.sparkSession, indexPath)
  }

  /** [[clusterIndexIngest]] over the staged documents stream — the
    * battery entry (AvailableNow drain; labels == the batch CC).
    */
  def runStreamClusterIndex(spark: SparkSession, sfDir: String,
      name: String = "stream_clusters"): DataFrame = {
    val s = isolated(spark)
    val root = s"/tmp/graft_stream_cidx/$name"
    org.apache.hadoop.fs.FileSystem.getLocal(
      s.sessionState.newHadoopConf()).delete(
        new org.apache.hadoop.fs.Path(root), true)
    clusterIndexIngest(docStream(s, sfDir),
      s.read.parquet(s"$sfDir/documents.parquet"),
      s"$root/index", s"$root/chk")
  }

  // ------------------------------------------------ rolling features

  // value is Option: a NULL source value must ride the ring as a row
  // (it occupies a frame position in the batch window) while being
  // excluded from roll_n/roll_sum (count/sum skip nulls) — a
  // non-nullable Double would crash the encoder on the first NULL
  final case class FeEvt(event_id: Long, user_id: Long, tsMicros: Long,
      value: Option[Double])
  final case class FeRing(ring: List[FeEvt])
  final case class FeOut(event_id: Long, user_id: Long, ts_us: Long,
      gap_us: Option[Long], roll_n: Long, roll_sum: Option[Double])

  /** Streaming rolling features — the stateful twin of
    * [[graft.ops.TimeOps.rollingFeatures]]: per user, the gap to the
    * previous event and count/sum over the trailing `lookback` events,
    * maintained with a BOUNDED ring buffer in group state (O(lookback)
    * per key — the streaming shape that never accumulates history,
    * unlike a naive window-over-stream). The sum mirrors the batch
    * path's decimal(38,10) per-term rounding exactly (HALF_UP at scale
    * 10 is what Spark's double→decimal cast does), so stream == batch
    * bit-for-bit. Within a micro-batch events sort by (ts, event_id);
    * cross-batch correctness assumes per-key in-order arrival — the
    * standard contract absent a watermark reorder buffer.
    */
  def rollingFeatures(events: Dataset[FeEvt],
      lookback: Int): Dataset[FeOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FeRing, FeOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FeEvt], state: GroupState[FeRing]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var ring = state.getOption.map(_.ring).getOrElse(Nil)
          val out = Seq.newBuilder[FeOut]
          sorted.foreach { e =>
            val gap = ring.headOption.map(p => e.tsMicros - p.tsMicros)
            val vals = ring.flatMap(_.value)
            val sum = if (vals.isEmpty) None
              else Some(vals.map(v => BigDecimal(v)
                  .setScale(10, BigDecimal.RoundingMode.HALF_UP))
                .sum.toDouble)
            out += FeOut(e.event_id, uid, e.tsMicros, gap,
              vals.size.toLong, sum)
            ring = (e :: ring).take(lookback) // most recent first
          }
          state.update(FeRing(ring))
          out.result().iterator
      }
  }

  /** [[rollingFeatures]] riding the file-source event stream
    * (AvailableNow drain; oracle = the batch window formulation).
    */
  def runStreamRolling(spark: SparkSession, sfDir: String,
      name: String = "stream_rolling"): DataFrame = {
    val s = isolated(spark)
    import s.implicits._
    val evts = eventStream(s, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[FeEvt]
    drain(rollingFeatures(evts, lookback = 5).toDF(),
      name, OutputMode.Append)
  }

  /** Batch-mode sessionization (same semantics, lag-window formulation)
    * — the backfill path a stream restart would use, and the oracle for
    * the stateful streaming path.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Long): DataFrame = {
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_ts", expr(
        "lag(ts) over (partition by user_id order by ts, event_id)"))
      .withColumn("new_sess", expr(
        s"""case when prev_ts is null
           |  or (unix_micros(ts) - unix_micros(prev_ts)) > ${gapMicros}L
           |  then 1 else 0 end""".stripMargin))
      .groupBy("user_id")
      .agg(sum(col("new_sess")).cast("int").as("n_sessions"))
  }
}
