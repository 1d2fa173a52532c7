package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Training-data pipeline battery: deduplication (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding near-dup), similarity search
  * (brute-force / IVF / LSH-bucketed ANN), text analysis, and multimodal
  * metadata — each as an engine query paired with a DuckDB oracle that
  * reproduces the exact same deterministic (md5-derived) hashing.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // one persisted cluster index per source dir, built on first use —
  // the production shape the artifact exists for: components are
  // computed ONCE and every policy query below READS the labels from
  // disk instead of re-running minhash+CC per consumer
  private val clusterIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      DedupOps.ClusterIndex]()

  // one on-disk media-file tree per source dir (the binaryFile-source
  // ingest fixture), written once from executors on first use
  private val mediaFilesDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val idx = clusterIdxCache.computeIfAbsent(dir, d => {
      val path = java.nio.file.Files
        .createTempDirectory("graft-cluster-index").toString
      DedupOps.writeClusterIndex(docs(s, d), path)
    })
    DedupOps.readClusterLabels(s, idx.path)
  }

  // one persisted CLEAN index (per-doc fate table) per source dir,
  // built on first use — quality+dedup+CC run ONCE and all four
  // pipeline consumers below read the two-column fates frame
  private val cleanIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      CleanPipeline.CleanIndex]()

  // one trained BPE merge table per source dir (12 rounds, the
  // ordered (left, right) pairs) — training is offline in production;
  // consumers apply the learned table
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[(String, String)]]()

  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent(dir, d =>
      TextOps.bpeTrain(docs(s, d), nMerges = 12).collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  private def cleanFates(s: SparkSession, dir: String): DataFrame = {
    val idx = cleanIdxCache.computeIfAbsent(dir, d => {
      val path = java.nio.file.Files
        .createTempDirectory("graft-clean-index").toString
      CleanPipeline.writeCleanIndex(docs(s, d), path)
    })
    CleanPipeline.readCleanFates(s, idx.path)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- deduplication -------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => DedupOps.exactDedup(docs(s, dir))),

    "q_dedup_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairs(docs(s, dir), 0.5)),

    "q_dedup_minhash" -> ((s, dir) =>
      DedupOps.minhashLsh(docs(s, dir), bands = 4, rows = 2,
        threshold = 0.5)),

    // train/eval decontamination: cross-corpus near-dup pairs (the
    // low-id half plays the eval set)
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.crossContamination(
        d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
        bands = 4, rows = 2, threshold = 0.5)
    }),

    // exact-text decontamination with a Bloom prefilter: identical
    // result to the plain anti-join at any fpr (no false negatives +
    // exact verify of the bloom-positive sliver)
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.decontaminateBloom(
        d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250))
    }),

    // SemDeDup-style semantic dedup: trained k-means cells bound the
    // pairwise cosine work; drop the higher id of any pair >= tau
    "q_dedup_semantic" -> ((s, dir) =>
      SimilarityOps.semanticDedup(emb(s, dir), k = 8, iters = 2,
        tau = 0.47)),

    // transitive near-dup clusters: minhash pairs -> connected
    // components; every doc gets a cluster id (singletons included)
    "q_dedup_clusters" -> ((s, dir) =>
      DedupOps.nearDupClusters(docs(s, dir))),

    // the persisted cluster artifact read back from disk: labels must
    // equal the in-memory transitive closure (same oracle CTE)
    "q_cluster_index" -> ((s, dir) => clusterLabels(s, dir)),

    // duplication-structure histogram off the persisted labels: how
    // many clusters of each size (size 1 = unique docs) — the one-row
    // -per-size summary a dedup report leads with
    "q_cluster_stats" -> ((s, dir) =>
      clusterLabels(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))),

    // cluster-aware keep-BEST: per near-dup cluster keep the doc with
    // the most tokens (tie: lowest id), not whichever crawled first —
    // consuming the PERSISTED cluster index, not a per-query CC
    "q_cluster_keep_best" -> ((s, dir) =>
      DedupOps.keepBestPerClusterFrom(clusterLabels(s, dir),
        docs(s, dir))),

    // leakage-safe split: assignment hashes the near-dup CLUSTER id,
    // so near-duplicates never straddle a train/val/test boundary —
    // one map-side projection over the persisted labels
    "q_split_by_cluster" -> ((s, dir) =>
      DedupOps.splitByClusterFrom(clusterLabels(s, dir))),

    // mean-pooled group vectors (chunk→doc reduction): decimal-exact
    // element sums, emitted as join-ready (group, d, pooled, n) rows
    "q_embed_meanpool" -> ((s, dir) =>
      SimilarityOps.meanPool(emb(s, dir), "vec_id % 500")),

    // contrastive-training prep: per anchor, its nearest neighbor as
    // the positive × the rank-11..20 band as hard negatives
    "q_triplet_mining" -> ((s, dir) => {
      val e = emb(s, dir)
      RetrievalOps.mineTriplets(e, e.filter(col("vec_id") < 5),
        posK = 1, negFrom = 11, negTo = 20)
    }),

    // ColBERT-style late-interaction (MaxSim) top-k: queries and docs
    // are chunk-vector SETS; score = Σ per query chunk of the max
    // cosine against any doc chunk
    "q_ann_maxsim" -> ((s, dir) => {
      val e = emb(s, dir)
      RetrievalOps.maxSimTopK(
        e.withColumn("doc_id", expr("vec_id % 500")),
        e.filter(col("vec_id") < 8)
          .withColumn("query_id", expr("vec_id % 2")),
        k = 10)
    }),

    // per-doc fate audit of the clean pipeline: which stage dropped
    // each input doc (quality | exact_dup | near_dup | kept) — READ
    // from the persisted clean index, not re-derived per query
    "q_pipeline_audit" -> ((s, dir) => cleanFates(s, dir)),

    // the drop-rate dashboard: fate counts per source (the alarm feed
    // — a source whose near_dup share spikes is a crawl gone wrong)
    "q_audit_by_source" -> ((s, dir) =>
      cleanFates(s, dir)
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source", "fate")
        .agg(count(lit(1)).as("n_docs"))),

    // learned BPE merges over the corpus word-frequency table; the
    // oracle unrolls the 12 training rounds as a CTE chain where the
    // greedy merge fold lowers to marker-delimited replace() (bpeCtes)
    "q_bpe_merges" -> ((s, dir) =>
      TextOps.bpeTrain(docs(s, dir), nMerges = 12)),

    // per-doc token counts under the LEARNED vocab — tokenizer
    // training is an offline job (the same train-once contract as the
    // persisted indexes), so encode consumes the per-corpus cached
    // merge table instead of retraining inline
    "q_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(docs(s, dir), bpeMerges(s, dir))),

    "q_dedup_simhash" -> ((s, dir) => DedupOps.simhash(docs(s, dir))),

    "q_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(docs(s, dir), maxDist = 3)),

    "q_dedup_embed" -> ((s, dir) =>
      DedupOps.embeddingPairs(emb(s, dir), 0.47)),

    // the scale path: banded hyperplane-LSH candidates + exact verify,
    // bits-per-band derived from corpus size (constant expected bucket
    // occupancy — fixed geometry went quadratic at sf1, BASELINE.md r11)
    "q_dedup_embed_lsh" -> ((s, dir) =>
      DedupOps.embeddingPairsLshAuto(emb(s, dir), 0.47)),

    // -- similarity search ---------------------------------------------
    "q_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
    }),

    "q_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfTopK(e, e.filter(col("vec_id") < 5), "label", k = 10)
    }),

    // the IVF recall knob: probe the 2 nearest cells per query vector
    "q_ann_ivf_nprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfTopK(e, e.filter(col("vec_id") < 5), "label",
        k = 10, nprobe = 2)
    }),

    "q_ann_lsh_buckets" -> ((s, dir) =>
      SimilarityOps.lshBuckets(emb(s, dir), nBits = 12)
        .select("vec_id", "bucket")),

    // int8 scalar quantization: the 4x-smaller ANN storage layout
    "q_embed_quantize" -> ((s, dir) =>
      SimilarityOps.quantizeInt8(emb(s, dir))),

    // trained IVF coarse quantizer: deterministic seeded Lloyd's
    "q_ann_kmeans" -> ((s, dir) =>
      SimilarityOps.kmeansCells(emb(s, dir), k = 8, iters = 3)),

    // realistic IVF cell count: k=64 exercises the native argmin_sq
    // loop at the model size whose unrolled form broke Janino (r5)
    "q_ann_kmeans64" -> ((s, dir) =>
      SimilarityOps.kmeansCells(emb(s, dir), k = 64, iters = 2)),

    // product quantization: 4 subspaces x 8-entry codebooks; each
    // vector compresses to 4 small codes (map-only encode)
    "q_pq_encode" -> ((s, dir) =>
      SimilarityOps.pqEncode(emb(s, dir), m = 4, kSub = 8, iters = 2)),

    // PQ asymmetric-distance top-k: probe-side distance tables, the
    // corpus scan touches only the codes (never the float vectors)
    "q_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.pqTopK(e, e.filter(col("vec_id") < 5),
        m = 4, kSub = 8, iters = 2, k = 10)
    }),

    // IVF-PQ: coarse k-means routing bounds WHICH vectors are scored,
    // PQ codes bound WHAT the scan reads — the billion-vector layout
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfPqTopK(e, e.filter(col("vec_id") < 5),
        kCoarse = 8, cIters = 2, m = 4, kSub = 8, iters = 2,
        k = 10, nprobe = 2)
    }),

    // exact squared-L2 ground truth (one codegen'd dot per pair via
    // the norm identity) — what ANN indexes are measured against
    "q_ann_l2" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.l2TopK(e, e.filter(col("vec_id") < 5), k = 10)
    }),

    // the evaluation harness: recall@10 of the IVF-PQ index vs exact
    // L2 — the metric that tunes kCoarse/kSub/nprobe in production
    "q_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfPqRecall(e, e.filter(col("vec_id") < 5),
        kCoarse = 8, cIters = 2, m = 4, kSub = 8, iters = 2,
        k = 10, nprobe = 2)
    }),

    // native codegen'd Catalyst expression (functions/VectorExprs):
    // nearest neighbor per probe straight over the array columns
    "q_ann_cosine_expr" -> ((s, dir) => {
      graft.functions.VectorExprs.register(s)
      val e = emb(s, dir)
      val pairs = e.as("a").join(broadcast(
          e.filter(col("vec_id") < 50).as("p")),
          col("a.vec_id") =!= col("p.vec_id"))
        .select(col("p.vec_id").as("probe_id"),
          col("a.vec_id").as("neighbor_id"),
          expr("cosine_f32(p.embedding, a.embedding)").as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("probe_id", "neighbor_id")
    }),

    // -- end-to-end cleaning pipeline ----------------------------------
    // stats over survivors reconstructed from the persisted fate table
    // (one id semi-join; the stages ran once at index build)
    "q_pipeline_clean" -> ((s, dir) =>
      CleanPipeline.cleanStatsOver(
        CleanPipeline.cleanFrom(docs(s, dir), cleanFates(s, dir)))),

    // the full curation flow: survivors -> per-source cap -> shard
    // packing, one lazy composed plan over the persisted-fate survivors
    "q_pipeline_curate" -> ((s, dir) =>
      CleanPipeline.curateOver(
        CleanPipeline.cleanFrom(docs(s, dir), cleanFates(s, dir)),
        maxDocs = 30, budget = 2000L)),

    // -- text analysis -------------------------------------------------
    "q_text_tokens" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),

    "q_text_quality" -> ((s, dir) => TextOps.quality(docs(s, dir))),

    "q_text_langid" -> ((s, dir) => TextOps.langId(docs(s, dir))),

    "q_text_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir))),

    "q_text_bpe_tokens" -> ((s, dir) =>
      TextOps.bpeTokenCounts(docs(s, dir))),

    // Gopher/C4 repetition signals: dup-token + top-bigram fractions
    "q_text_repetition" -> ((s, dir) =>
      TextOps.repetition(docs(s, dir))),

    // char-level Shannon entropy: the cheap perplexity-proxy filter
    "q_text_entropy" -> ((s, dir) => TextOps.charEntropy(docs(s, dir))),

    // CCNet-style unigram LM cross-entropy (self-trained, add-one
    // smoothing); Zipf-head tokens join map-side from a broadcast
    "q_lm_score" -> ((s, dir) => TextOps.lmScore(docs(s, dir))),

    // -- corpus curation -----------------------------------------------
    // per-source document cap (per-domain cap): top-40 by length
    "q_curate_cap" -> ((s, dir) =>
      CurationOps.capPerSource(docs(s, dir), maxDocs = 40)),

    // token-budget shard packing: global prefix sum over the narrow
    // counts frame (Ords.runningSum scale guard)
    "q_pack_shards" -> ((s, dir) =>
      CurationOps.packShards(docs(s, dir), budget = 2000L)),

    // sequence packing: fixed-length training sequences, docs spanning
    // boundaries split into per-sequence segments
    "q_pack_sequences" -> ((s, dir) =>
      CurationOps.packSequences(docs(s, dir), seqLen = 512)),

    // deterministic mixture sampling: source-weighted keep rates
    "q_mixture_sample" -> ((s, dir) =>
      CurationOps.mixtureSample(docs(s, dir),
          Map("src0" -> 0.5, "src1" -> 0.25))
        .select("doc_id", "source")),

    // PII scrub over deterministic contact-shaped text derived from
    // table columns (the corpus itself is synthetic and PII-free)
    "q_pii_redact" -> ((s, dir) =>
      TextOps.redactPii(
        docs(s, dir).select(col("doc_id"),
          concat(lit("contact "), col("source"), lit("_"), col("doc_id"),
            lit("@mail.example.com on 10.0."), col("doc_id") % 200,
            lit(".7 or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
            .as("contact")),
        "contact", "redacted")
        .select("doc_id", "redacted")),

    // hashed bag-of-words linear quality model (fasttext-shaped
    // inference, md5-derived stand-in weights) — map-only scoring
    "q_quality_classifier" -> ((s, dir) =>
      TextOps.qualityClassifier(docs(s, dir))),

    // substring-level dedup signal: per-doc fraction of 8-token spans
    // shared with at least one other document
    "q_dup_spans" -> ((s, dir) => DedupOps.dupSpans(docs(s, dir))),

    // the rewrite half: cut every cross-doc duplicated span's tokens
    // and rebuild the cleaned text
    "q_dup_span_removal" -> ((s, dir) =>
      DedupOps.removeDupSpans(docs(s, dir))),

    // incremental-ingest delta: v2 drops doc_id%13, edits doc_id%7,
    // adds shifted copies of doc_id%11 — diff emits only the delta
    "q_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .select("doc_id", "text")
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      CurationOps.snapshotDiff(d, v2)
    }),

    // corpus vocabulary induction: top-100 tokens by frequency
    "q_vocab_topk" -> ((s, dir) => TextOps.vocabTopK(docs(s, dir), 100)),

    // per-source curation dashboard: doc/token budgets + length tails
    "q_corpus_stats" -> ((s, dir) => TextOps.corpusStats(docs(s, dir))),

    // RAG-style chunking: 32-token windows, 8-token overlap
    "q_chunk_text" -> ((s, dir) =>
      TextOps.chunkText(docs(s, dir), chunkTokens = 32, overlap = 8)),

    // per-doc top terms by integer (tf desc, df asc) ranking
    "q_keywords" -> ((s, dir) => TextOps.keywords(docs(s, dir))),

    // quality-weighted importance sampling: clamped-linear keep ramp
    // over the classifier score, seedless md5 coin
    // deterministic seeded epoch shuffle: same permutation at any
    // parallelism, forced through the distributed numbering path
    "q_corpus_shuffle" -> ((s, dir) =>
      CurationOps.shuffleOrder(docs(s, dir), seed = "ep1")),

    "q_quality_sample" -> ((s, dir) =>
      CurationOps.qualitySample(docs(s, dir))),

    // per-eval-doc contamination report: how many train near-dups hit
    // each eval doc, and how close the worst one is
    "q_contamination_report" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupOps.crossContamination(
          d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
          bands = 4, rows = 2, threshold = 0.5)
        .groupBy("eval_id")
        .agg(count(lit(1)).as("n_hits"),
          max("jaccard").as("max_jaccard"))
    }),

    // -- multimodal ----------------------------------------------------
    // REAL codec round trip: render deterministic PNGs into a binary
    // column, decode with javax.imageio, read stats off the raster
    "q_multimodal_decode" -> ((s, dir) =>
      MultimodalOps.decodedImageStats(s, docs(s, dir))),

    // the FILE-ingest path: PNGs land as individual files (executor-
    // side Hadoop FS writes, built once per source dir), come back
    // through Spark's binaryFile source (glob pushdown at listing
    // time, recursive shard lookup), and run the same decoder — so
    // the oracle is the same closed-form raster
    "q_multimodal_ingest" -> ((s, dir) => {
      val filesDir = mediaFilesDir.computeIfAbsent(dir, d => {
        val path = java.nio.file.Files
          .createTempDirectory("graft-media-files").toString
        MultimodalOps.writeMediaFiles(docs(s, d), path)
        path
      })
      MultimodalOps.decodeImage(
        MultimodalOps.readMediaFiles(s, filesDir)).toDF()
    }),

    // real WAV synth → javax.sound decode round trip
    "q_multimodal_audio" -> ((s, dir) =>
      MultimodalOps.decodedAudioStats(s, docs(s, dir))),

    // stubbed decode (md5 stand-in), real plumbing
    "q_multimodal_meta" -> ((s, dir) =>
      MultimodalOps.imageMeta(s, docs(s, dir))),

    "q_multimodal_resize" -> ((s, dir) =>
      MultimodalOps.resizePlan(MultimodalOps.imageMeta(s, docs(s, dir)), 64)
        .select("doc_id", "out_w", "out_h")),

    // EXECUTED resize: decode → Graphics2D box-fit resample → stats
    "q_multimodal_resize_exec" -> ((s, dir) =>
      MultimodalOps.resizedImageStats(s, docs(s, dir), box = 16)),

    // raw-video container: build → binary column → parse/slice/stat
    // decode of every 2nd frame (real byte-level work; the container
    // is raw — the JDK ships no video codec)
    "q_multimodal_video" -> ((s, dir) =>
      MultimodalOps.decodedVideoStats(s, docs(s, dir))),

    // REAL compressed video: MJPEG-style packetized JPEG frames,
    // lossy-encoded and selectively decoded on executors. The oracle
    // pins the container facts (geometry, frame count, sampling); the
    // lossy pixel/byte columns are spec-pinned (PipelineOpsSpec)
    // because no SQL engine reproduces a JPEG codec
    "q_multimodal_mjpeg" -> ((s, dir) =>
      MultimodalOps.decodedMjpegStats(s, docs(s, dir))
        .select("doc_id", "frame_idx", "width", "height", "n_frames")),

    // REAL inter-frame compressed video: GOP keyframes + temporal
    // delta prediction + Deflate entropy coding, all JDK. Deflate is
    // lossless, so even the reconstructed pixel sums are closed-form
    // oracle-exact — the full decode chain is verified, not just the
    // container facts
    "q_multimodal_interframe" -> ((s, dir) =>
      MultimodalOps.decodedInterframeStats(s, docs(s, dir))),

    // metadata-only frame sampling PLAN over byte counts: n_bytes is a
    // pure column expression, so the whole query is one codegen'd
    // projection — no decode round trip on this path
    "q_multimodal_frames" -> ((s, dir) =>
      MultimodalOps.frameSample(
        docs(s, dir).select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")),
        bytesPerFrame = 64, stride = 4)
        .select(col("doc_id"), explode(col("frame_idx")).as("frame_idx")))
  )

  // ------------------------------------------------------------ oracles

  /** DuckDB equivalents of the Spark-side deterministic primitives. */
  /** Shared SQL fragments of the PQ ADC oracles (`q_ann_pq` /
    * `q_ann_ivfpq`): probe subspace slices, per-subspace
    * distance-table CTEs against the final codebooks `s<s>clist2`,
    * the code columns/joins over `s<s>assign2`, and the
    * left-to-right approx sum — ONE definition so the two oracles'
    * ADC arithmetic cannot diverge.
    */
  private object PqO {
    val m = 4
    val subDim = 16
    val pvCols: String = (0 until m).map(s =>
      s"list_transform(embedding[${s * subDim + 1}:${(s + 1) * subDim}]," +
        s" x -> CAST(x AS DOUBLE)) AS e$s").mkString(",\n  ")
    val dts: String = (0 until m).map(s =>
      s"""dt$s AS (
         |  SELECT p.vec_id AS probe_id, cl.cell AS code,
         |    list_sum(list_transform(range(1, ${subDim + 1}),
         |      i -> (p.e$s[i] - cl.c[i]) * (p.e$s[i] - cl.c[i]))) AS dd
         |  FROM pv p CROSS JOIN s${s}clist2 cl)""".stripMargin)
      .mkString(",\n")
    val codeCols: String = (0 until m).map(s => s"a$s.cell AS code_$s")
      .mkString(", ")
    val codeJoins: String = (1 until m).map(s =>
      s"JOIN s${s}assign2 a$s USING (vec_id)").mkString(" ")
    def dtJoins(from: Int, anchor: String): String = (from until m).map(s =>
      s"JOIN dt$s ON dt$s.probe_id = $anchor.probe_id " +
        s"AND dt$s.code = c.code_$s").mkString("\n    ")
    val approx: String = (0 until m).map(s => s"dt$s.dd")
      .reduceLeft((a, b) => s"($a + $b)")
    val rankTail: String =
      """ranked AS (
        |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY approx ASC, neighbor_id ASC)
        |    AS INT) AS rank FROM scored)
        |SELECT probe_id, neighbor_id, rank FROM ranked
        |WHERE rank <= 10""".stripMargin

    /** Exact squared-L2 top-10 over the <5 probes via the norm
      * identity (nx + ny) − 2·dot, folds in component order — as a
      * standalone query (`asCte = false`) or as the CTE chain ending
      * at `ex` (probe_id, neighbor_id, rank) for the recall oracle.
      */
    def l2Sql(asCte: Boolean): String = {
      val ctes =
        s"""lv AS (
           |  SELECT vec_id,
           |    list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |ln AS (
           |  SELECT vec_id, e,
           |    list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))
           |      AS nn
           |  FROM lv),
           |lscored AS (
           |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           |    (p.nn + c.nn) - 2 * list_sum(list_transform(range(1, 65),
           |      i -> p.e[i] * c.e[i])) AS d2
           |  FROM ln p JOIN ln c ON c.vec_id <> p.vec_id
           |  WHERE p.vec_id < 5),
           |ex AS (
           |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
           |    PARTITION BY probe_id ORDER BY d2 ASC, neighbor_id ASC)
           |    AS INT) AS rank FROM lscored
           |  QUALIFY rank <= 10)""".stripMargin
      if (asCte) ctes
      else s"WITH $ctes\nSELECT probe_id, neighbor_id, rank FROM ex"
    }
  }

  private val T = "regexp_split_to_array(lower(trim(text)), '\\s+')"
  private def H60(x: String) = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** (doc_id, sh) 8-token span-hash CTE fragment — shared by the batch
    * span stats oracle and the streaming span-index oracle.
    */
  private[queries] val SPAN_CTES =
    s"""toks AS (SELECT doc_id, $T AS t FROM documents),
       |spans AS (
       |  SELECT doc_id, unnest(
       |    [${H60("array_to_string(list_slice(t, i, i + 7), ' ')")}
       |     for i in range(1, len(t) - 6)]) AS sh
       |  FROM toks WHERE len(t) >= 8)""".stripMargin

  /** Hashed-BoW classifier score CTEs (ending in `s`: doc_id, score) —
    * shared by the classifier oracle and the calibrated-gate oracle.
    */
  private[queries] lazy val QUALITY_SCORE_CTES: String =
    s"""toks AS (SELECT doc_id, $T AS t FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    coalesce(list_sum([
       |      (${H60("'w' || CAST(" + H60("tok") + " % 4096 AS VARCHAR)")}
       |        % 2001 - 1000) / 1000.0
       |      for tok in t]), 0.0) AS score
       |  FROM toks)""".stripMargin

  /** (doc_id, shingles) CTE fragment (word 3-grams, distinct). */
  private val SH_CTE =
    s"""toks AS (SELECT doc_id, $T AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |     for i in range(1, len(t) - 1)]) AS shingles
       |  FROM toks WHERE len(t) >= 3)""".stripMargin

  /** Per-doc simhash signature select (from a toks CTE). */
  private val SIMHASH_SQL =
    """CAST(list_sum([
      |  CASE WHEN list_sum([
      |      ((('0x' || substr(md5(tok), 1, 15))::BIGINT >> p) % 2) * 2 - 1
      |      for tok in t]) > 0
      |    THEN (1::BIGINT << p) ELSE 0::BIGINT END
      |  for p in range(0, 60)]) AS BIGINT)""".stripMargin

  /** MinHash chain up to the exact-verify CTE `v` (doc_a, doc_b,
    * n_common, n_a, n_b) — shared by the pair query and the
    * cluster (connected-components) oracle.
    */
  private val MINHASH_V_CTES =
    s"""$SH_CTE,
       |base AS (
       |  SELECT doc_id, shingles,
       |    [${H60("s")} % 2147483647 for s in shingles] AS bh
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    [list_min([((2*i+3) * h + 7*i+1) % 2147483647 for h in bh])
       |      for i in range(0, 8)] AS sig
       |  FROM base),
       |banded AS (
       |  SELECT doc_id, b AS band_idx,
       |    CAST(sig[2*b+1] AS VARCHAR) || '_' ||
       |      CAST(sig[2*b+2] AS VARCHAR) AS band_sig
       |  FROM sig, range(0, 4) r(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |      AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
       |    len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b)""".stripMargin

  /** Cross-corpus (train doc_id >= 250 vs eval < 250) verified
    * near-dup pair SQL — shared by q_decontaminate and the per-eval
    * contamination report.
    */
  private val DECON_SQL =
    s"""WITH $SH_CTE,
       |base AS (
       |  SELECT doc_id, shingles,
       |    [${H60("s")} % 2147483647 for s in shingles] AS bh
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    [list_min([((2*i+3) * h + 7*i+1) % 2147483647 for h in bh])
       |      for i in range(0, 8)] AS sig
       |  FROM base),
       |banded AS (
       |  SELECT doc_id, b AS band_idx,
       |    CAST(sig[2*b+1] AS VARCHAR) || '_' ||
       |      CAST(sig[2*b+2] AS VARCHAR) AS band_sig
       |  FROM sig, range(0, 4) r(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |  WHERE a.doc_id >= 250 AND b.doc_id < 250),
       |v AS (
       |  SELECT train_id, eval_id,
       |    len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
       |    len(sa.shingles) AS n_a, len(sb.shingles) AS n_b
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = train_id
       |  JOIN sh sb ON sb.doc_id = eval_id)
       |SELECT train_id, eval_id,
       |  CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
       |FROM v
       |WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5"""
      .stripMargin

  /** CleanPipeline.clean oracle chain (quality filter → exact dedup →
    * near-dup keep-one-per-connected-component), ending in
    * `surv(doc_id)` + the reusable `k2(doc_id, text)` survivors-input.
    * Shared by q_pipeline_clean and q_pipeline_curate; the closure is
    * recursive, so consumers must open with `WITH RECURSIVE`.
    */
  private val CLEAN_SURV_CTES = {
    val stopHits =
      s"len(list_filter($T, t -> list_contains(" +
        "['the', 'a', 'of', 'and', 'to', 'in'], t)))"
    s"""q AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE len($T) >= 30
       |    AND $stopHits / CAST(len($T) AS DOUBLE) >= 0.04),
       |e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
       |k2 AS (SELECT q.doc_id, q.text FROM q JOIN e USING (doc_id)),
       |toks2 AS (SELECT doc_id, $T AS t FROM k2),
       |sh2 AS (
       |  SELECT doc_id, list_distinct(
       |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |     for i in range(1, len(t) - 1)]) AS shingles
       |  FROM toks2 WHERE len(t) >= 3),
       |posts AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS n_common
       |  FROM posts a JOIN posts b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_a, doc_b FROM common
       |  JOIN sh2 sa ON sa.doc_id = doc_a
       |  JOIN sh2 sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_common AS DOUBLE)
       |    / (len(sa.shingles) + len(sb.shingles) - n_common) >= 0.5),
       |pedges AS (
       |  SELECT doc_a AS ea, doc_b AS eb FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p),
       |preach(a, b) AS (
       |  SELECT ea, ea FROM pedges
       |  UNION
       |  SELECT r.a, pe.eb FROM preach r JOIN pedges pe ON r.b = pe.ea),
       |nd AS (
       |  SELECT a AS doc_id FROM preach GROUP BY a HAVING min(b) <> a),
       |surv AS (
       |  SELECT doc_id FROM k2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM nd))""".stripMargin
  }

  /** Explicit double-accumulated cosine — reproduces Spark's
    * zip_with/aggregate math IEEE-exactly (same fold order).
    */
  private def COS(a: String, b: String) =
    s"""(list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |           for i in range(1, len($a) + 1)])
       | / (sqrt(list_sum([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)
       |                   for i in range(1, len($a) + 1)]))
       |    * sqrt(list_sum([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |                     for i in range(1, len($b) + 1)]))))""".stripMargin

  /** Unrolled n-round DuckDB twin of [[TextOps.bpeTrain]]. Each word's
    * symbol state is ONE marker-delimited string (chr(1)·sym·chr(2) per
    * symbol), so the greedy left-to-right merge fold lowers EXACTLY to
    * SQL `replace()`: replace scans left to right, never rescans its own
    * replacement, and the per-symbol markers make boundaries unambiguous
    * AND adjacent matches character-disjoint — runs like 'aaaa' pair as
    * (aa)(aa), 'aaa' as (aa)(a), 'abab' as (ab)(ab), bit-matching the
    * fold semantics of [[TextOps]]' mergeFoldSql. Per round: adjacent
    * pairs via generate_series over the extracted symbol list, freq-
    * weighted counts, argmax (n DESC, a, b — binary collation both
    * sides), then one replace. Chain ends at st{n} (w, st, freq) — the
    * fully-merged distinct-word table — plus one-row m0..m{n-1} CTEs.
    * Integer sums are CAST AS BIGINT: DuckDB types bare integer sums
    * HUGEINT, which arrow/pandas readers coerce to float64 — the
    * q_eval_overlap hash-red class. Every round is TOTAL: the merge
    * table joins in via LEFT JOIN ON TRUE with a coalesce fallback,
    * so a corpus supporting fewer than n merge rounds leaves each
    * exhausted st{r+1} equal to st{r} (and its m{r} empty) instead of
    * cascade-emptying the chain — mirroring the engine's
    * early-exhaustion behavior, where training simply stops emitting
    * merges. Still assumes no TOKEN contains the control chars
    * U+0001/U+0002 (whitespace-split text; a corpus violating that
    * would need wider markers here — the ENGINE is marker-free either
    * way).
    */
  private def bpeCtes(n: Int): String = {
    val sym = "chr(1)||'([^'||chr(2)||']*)'||chr(2)"
    // every st{r} is referenced twice (pair-count branch + next round's
    // replace): without MATERIALIZED, DuckDB inlines CTEs and the plan
    // tree doubles per round — 2^n copies of the base scan
    val rounds = (0 until n).map { r =>
      s"""s$r AS (
         |  SELECT regexp_extract_all(st, $sym, 1) AS l, freq FROM st$r),
         |x$r AS (
         |  SELECT l, freq, unnest(generate_series(1, len(l) - 1)) AS gi
         |  FROM s$r WHERE len(l) >= 2),
         |p$r AS (
         |  SELECT l[gi] AS a, l[gi+1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS n
         |  FROM x$r GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b, n FROM p$r
         |  ORDER BY n DESC, a ASC, b ASC LIMIT 1),
         |st${r + 1} AS MATERIALIZED (
         |  SELECT w,
         |    coalesce(
         |      replace(st, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2),
         |        chr(1)||m.a||m.b||chr(2)), st) AS st, freq
         |  FROM st$r LEFT JOIN m$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($T) AS w FROM documents) GROUP BY 1),
       |st0 AS MATERIALIZED (
       |  SELECT w, regexp_replace(w, '(.)',
       |    chr(1) || '\\1' || chr(2), 'g') AS st, freq
       |  FROM wf),
       |$rounds""".stripMargin
  }

  /** The learned merge table (rank, left, right, pair_count). */
  private def bpeMergesSql(n: Int): String = {
    val union = (0 until n)
      .map(r => s"SELECT $r AS rk, a, b, n FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtes(n)}
       |SELECT CAST(rk AS INT) AS "rank", a AS "left", b AS "right",
       |  n AS pair_count
       |FROM (
       |  $union)""".stripMargin
  }

  /** Per-doc learned-vocab token counts: the final st{n} state IS the
    * encoded segmentation (training round i applies merge i to state i
    * — identical to encode's rank-order greedy application), so n_sub
    * per word is just the symbol count of st{n} and the corpus joins
    * word → n_sub.
    */
  private def bpeEncodeSql(n: Int): String =
    s"""WITH ${bpeCtes(n)},
       |enc AS (
       |  SELECT w, len(regexp_extract_all(st,
       |    chr(1)||'([^'||chr(2)||']*)'||chr(2), 1)) AS n_sub
       |  FROM st$n),
       |docw AS (SELECT doc_id, unnest($T) AS w FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
       |FROM docw JOIN enc USING (w)
       |GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesSql(12),

    "q_bpe_encode" -> bpeEncodeSql(12),

    "q_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH $SH_CTE,
         |posts AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_common
         |  FROM posts a JOIN posts b
         |    ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(n_common AS DOUBLE)
         |    / (len(sa.shingles) + len(sb.shingles) - n_common) AS jaccard
         |FROM common
         |JOIN sh sa ON sa.doc_id = doc_a
         |JOIN sh sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE)
         |    / (len(sa.shingles) + len(sb.shingles) - n_common) >= 0.5"""
        .stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $MINHASH_V_CTES
         |SELECT doc_a, doc_b,
         |  CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
         |FROM v
         |WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5"""
        .stripMargin,

    // transitive closure over the verified pair graph: min reachable
    // doc_id per node == the engine's min-label propagation fixpoint
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $MINHASH_V_CTES,
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
         |    >= 0.5),
         |edges AS (
         |  SELECT doc_a AS ea, doc_b AS eb FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,

    // the persisted index read back must equal the same transitive
    // closure the in-memory q_dedup_clusters pins
    "q_cluster_index" ->
      s"""WITH RECURSIVE $MINHASH_V_CTES,
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
         |    >= 0.5),
         |edges AS (
         |  SELECT doc_a AS ea, doc_b AS eb FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,

    // cluster-size histogram over the same transitive closure
    "q_cluster_stats" ->
      s"""WITH RECURSIVE $MINHASH_V_CTES,
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
         |    >= 0.5),
         |edges AS (
         |  SELECT doc_a AS ea, doc_b AS eb FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id
         |  FROM reach GROUP BY a),
         |szs AS (
         |  SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
         |SELECT sz, count(*) AS n_clusters FROM szs GROUP BY 1"""
        .stripMargin,

    // the cluster CTE of q_dedup_clusters + a per-cluster best pick
    "q_cluster_keep_best" ->
      s"""WITH RECURSIVE $MINHASH_V_CTES,
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
         |    >= 0.5),
         |edges AS (
         |  SELECT doc_a AS ea, doc_b AS eb FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id
         |  FROM reach GROUP BY a),
         |sized AS (
         |  SELECT doc_id, CAST(len($T) AS INT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, cluster_id, n_tokens FROM (
         |  SELECT c.doc_id, c.cluster_id, s.n_tokens,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY s.n_tokens DESC, c.doc_id ASC) AS rn
         |  FROM cl c JOIN sized s USING (doc_id)) WHERE rn = 1"""
        .stripMargin,

    // same cluster CTE; split = hash of the cluster id (never the doc)
    "q_split_by_cluster" ->
      s"""WITH RECURSIVE $MINHASH_V_CTES,
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
         |    >= 0.5),
         |edges AS (
         |  SELECT doc_a AS ea, doc_b AS eb FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id
         |  FROM reach GROUP BY a)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN (${H60("CAST(cluster_id AS VARCHAR)")} % 100) < 90
         |      THEN 'train'
         |    WHEN (${H60("CAST(cluster_id AS VARCHAR)")} % 100) < 95
         |      THEN 'val'
         |    ELSE 'test' END AS split
         |FROM cl""".stripMargin,

    "q_decontaminate" -> DECON_SQL,

    // one aggregation over the shared cross-contamination pair SQL
    "q_contamination_report" ->
      s"""SELECT eval_id, count(*) AS n_hits, max(jaccard) AS max_jaccard
         |FROM ($DECON_SQL) pairs
         |GROUP BY eval_id""".stripMargin,

    // bloom prefilter + exact verify ≡ the plain exact anti-join.
    // NOT EXISTS, not NOT IN: a NULL eval text would make NOT IN
    // return zero rows while left_anti (no-match on NULL) keeps them
    "q_decontaminate_bloom" ->
      """SELECT doc_id, source FROM documents d
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents e
        |    WHERE e.doc_id < 250 AND e.text = d.text)""".stripMargin,

    "q_dedup_semantic" ->
      s"""${SimilarityOps.kmeansOracleCtes(k = 8, iters = 2)},
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign2 a JOIN assign2 b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${COS("a.e", "b.e")} >= 0.47)
         |SELECT vec_id, cell FROM assign2
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents)
         |SELECT doc_id, $SIMHASH_SQL AS simhash FROM toks""".stripMargin,

    // brute-force hamming <= 3 equals the banded LSH result exactly:
    // 4 bands over 60 bits guarantee recall at hamming <= 3 (pigeonhole)
    "q_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |s AS (SELECT doc_id, $SIMHASH_SQL AS simhash FROM toks)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q_dedup_embed" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${COS("a.embedding", "b.embedding")} >= 0.47""".stripMargin,

    // bits-per-band twin of DedupOps.lshBitsPerBand: smallest b >= 4
    // with ceil(n/64) <= 2^b, via exact integer length(bin(q-1)) —
    // no float log2 whose ULP could flip a ceil at powers of two.
    // LEAST(15, ...) mirrors the engine's packed-Long geometry ceiling
    // (63 / 4 bands) so oracle and engine stay band-identical past
    // ~2M vectors (embeddingPairsLshAuto caps there too)
    "q_dedup_embed_lsh" ->
      s"""WITH g AS (
         |  SELECT CASE WHEN q <= 1 THEN 4
         |    ELSE LEAST(15, GREATEST(4, CAST(length(bin(q - 1)) AS INT)))
         |    END AS bits
         |  FROM (SELECT (count(*) + 63) // 64 AS q FROM embeddings)),
         |bucketed AS (
         |  SELECT vec_id,
         |    CAST(list_sum([
         |      CASE WHEN list_sum([
         |          CAST(embedding[d + 1] AS DOUBLE) *
         |          ((${H60("'pl' || CAST(b AS VARCHAR) || '_' || CAST(d AS VARCHAR)")}
         |            % 1000000) / 1000000.0 - 0.5)
         |          for d in range(0, len(embedding))]) > 0
         |        THEN (1::BIGINT << b) ELSE 0::BIGINT END
         |      for b in range(0, 4 * g.bits)]) AS BIGINT) AS bucket
         |  FROM embeddings, g),
         |banded AS (
         |  SELECT vec_id, bs.b AS band_idx,
         |    (bucket >> (bs.b * g.bits)) % (1::BIGINT << g.bits) AS band_val
         |  FROM bucketed, g, (SELECT unnest(range(0, 4)) AS b) bs),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |      AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b
         |FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b
         |WHERE ${COS("ea.embedding", "eb.embedding")} >= 0.47""".stripMargin,

    "q_ann_topk" ->
      s"""WITH scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${COS("p.embedding", "c.embedding")} AS cos
         |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 5),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC)
         |    AS INT) AS rank
         |  FROM scored)
         |SELECT probe_id, neighbor_id, rank FROM ranked
         |WHERE rank <= 10""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT label AS cell, d,
         |    avg(CAST(embedding[d] AS DOUBLE)) AS mv
         |  FROM embeddings, range(1, 65) r(d) GROUP BY 1, 2),
         |code AS (
         |  SELECT cell, list(mv ORDER BY d) AS centroid
         |  FROM cent GROUP BY 1),
         |routed AS (
         |  SELECT p.vec_id AS probe_id, p.embedding AS probe_emb, code.cell,
         |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |      ${COS("p.embedding", "code.centroid")} DESC, code.cell ASC)
         |      AS r
         |  FROM embeddings p, code WHERE p.vec_id < 5),
         |pc AS (SELECT probe_id, probe_emb, cell FROM routed WHERE r = 1),
         |scored AS (
         |  SELECT pc.probe_id, c.vec_id AS neighbor_id,
         |    ${COS("pc.probe_emb", "c.embedding")} AS cos
         |  FROM pc JOIN embeddings c
         |    ON c.label = pc.cell AND c.vec_id <> pc.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC)
         |    AS INT) AS rank
         |  FROM scored)
         |SELECT probe_id, neighbor_id, rank FROM ranked
         |WHERE rank <= 10""".stripMargin,

    "q_ann_ivf_nprobe" ->
      s"""WITH cent AS (
         |  SELECT label AS cell, d,
         |    avg(CAST(embedding[d] AS DOUBLE)) AS mv
         |  FROM embeddings, range(1, 65) r(d) GROUP BY 1, 2),
         |code AS (
         |  SELECT cell, list(mv ORDER BY d) AS centroid
         |  FROM cent GROUP BY 1),
         |routed AS (
         |  SELECT p.vec_id AS probe_id, p.embedding AS probe_emb, code.cell,
         |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |      ${COS("p.embedding", "code.centroid")} DESC, code.cell ASC)
         |      AS r
         |  FROM embeddings p, code WHERE p.vec_id < 5),
         |pc AS (SELECT probe_id, probe_emb, cell FROM routed WHERE r <= 2),
         |scored AS (
         |  SELECT pc.probe_id, c.vec_id AS neighbor_id,
         |    ${COS("pc.probe_emb", "c.embedding")} AS cos
         |  FROM pc JOIN embeddings c
         |    ON c.label = pc.cell AND c.vec_id <> pc.probe_id),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC)
         |    AS INT) AS rank
         |  FROM scored)
         |SELECT probe_id, neighbor_id, rank FROM ranked
         |WHERE rank <= 10""".stripMargin,

    "q_ann_lsh_buckets" ->
      s"""SELECT vec_id,
         |  CAST(list_sum([
         |    CASE WHEN list_sum([
         |        CAST(embedding[d + 1] AS DOUBLE) *
         |        ((${H60("'pl' || CAST(b AS VARCHAR) || '_' || CAST(d AS VARCHAR)")}
         |          % 1000000) / 1000000.0 - 0.5)
         |        for d in range(0, len(embedding))]) > 0
         |      THEN (1::BIGINT << b) ELSE 0::BIGINT END
         |    for b in range(0, 12)]) AS BIGINT) AS bucket
         |FROM embeddings""".stripMargin,

    // the q_ann_topk ranking at k=20, self-joined into pos × hard-neg
    "q_triplet_mining" ->
      s"""WITH scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${COS("p.embedding", "c.embedding")} AS cos
         |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 5),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id ASC)
         |    AS INT) AS rank
         |  FROM scored)
         |SELECT pos.probe_id, pos.neighbor_id AS positive_id,
         |  neg.neighbor_id AS negative_id, neg.rank AS neg_rank
         |FROM ranked pos JOIN ranked neg
         |  ON pos.probe_id = neg.probe_id
         |WHERE pos.rank <= 1 AND neg.rank BETWEEN 11 AND 20"""
        .stripMargin,

    // same per-pair cosine fold as q_ann_topk; maxes are identical
    // doubles both sides, their per-(query,doc) sum is decimal
    // (shuffle order independent), rank ties on doc_id
    "q_ann_maxsim" ->
      s"""WITH cu AS (
         |  SELECT vec_id, vec_id % 500 AS doc_id, embedding
         |  FROM embeddings),
         |qu AS (
         |  SELECT vec_id, vec_id % 2 AS query_id, embedding
         |  FROM embeddings WHERE vec_id < 8),
         |pc AS (
         |  SELECT q.query_id, q.vec_id AS q_chunk, c.doc_id,
         |    max(${COS("q.embedding", "c.embedding")}) AS mx
         |  FROM qu q, cu c GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT query_id, doc_id,
         |    sum(CAST(mx AS DECIMAL(38,12))) AS s
         |  FROM pc GROUP BY 1, 2)
         |SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY s DESC, doc_id ASC)
         |    AS INT) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin,

    // decimal component sums + the via-varchar double cast mirror the
    // engine's exact pooling arithmetic (same convention as k-means)
    "q_embed_meanpool" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id % 500 AS group_id,
        |    generate_subscripts(e, 1) - 1 AS d, unnest(e) AS val
        |  FROM v)
        |SELECT group_id, CAST(d AS INT) AS d,
        |  CAST(CAST(sum(CAST(val AS DECIMAL(38,12))) AS VARCHAR)
        |    AS DOUBLE) / count(*) AS pooled,
        |  count(*) AS n
        |FROM ex GROUP BY 1, 2""".stripMargin,

    "q_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        |  FROM v),
        |qv AS (
        |  SELECT vec_id, scale,
        |    [CAST(CASE WHEN scale = 0 THEN 0 ELSE
        |       greatest(-127, least(127, floor(x / scale + 0.5)))
        |     END AS INT) for x in e] AS qs
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(generate_subscripts(qs, 1) - 1 AS INT) AS d,
        |  unnest(qs) AS q
        |FROM qv""".stripMargin,

    "q_ann_kmeans" -> SimilarityOps.kmeansOracleSql(k = 8, iters = 3),

    "q_ann_kmeans64" -> SimilarityOps.kmeansOracleSql(k = 64, iters = 2),

    // per-subspace seeded-Lloyd chains (s<sub>assign2 = that
    // subspace's final assignment); codes are the cell ids
    "q_pq_encode" -> {
      val subs = (0 until 4).map(s =>
        s"  SELECT vec_id, $s AS sub, cell AS code FROM s${s}assign2")
        .mkString("\n  UNION ALL\n")
      s"""${SimilarityOps.pqOracleCtes(m = 4, kSub = 8, iters = 2)}
         |SELECT vec_id, CAST(sub AS INT) AS sub, code FROM (
         |$subs)""".stripMargin
    },

    // ADC: per-probe distance tables dt<sub>(probe, code, dd) against
    // the final codebooks, approximate distance = the 4 lookups summed
    // in the same left-to-right order the Spark expression uses
    "q_ann_pq" ->
      s"""${SimilarityOps.pqOracleCtes(m = PqO.m, kSub = 8, iters = 2)},
         |pv AS (
         |  SELECT vec_id,
         |  ${PqO.pvCols}
         |  FROM embeddings WHERE vec_id < 5),
         |${PqO.dts},
         |c AS (
         |  SELECT vec_id, ${PqO.codeCols}
         |  FROM s0assign2 a0 ${PqO.codeJoins}),
         |scored AS (
         |  SELECT dt0.probe_id, c.vec_id AS neighbor_id,
         |    ${PqO.approx} AS approx
         |  FROM c JOIN dt0 ON dt0.code = c.code_0
         |    ${PqO.dtJoins(1, "dt0")}
         |  WHERE c.vec_id <> dt0.probe_id),
         |${PqO.rankTail}""".stripMargin,

    // coarse routing (gclist2) + the SAME PQ ADC fragments as
    // q_ann_pq, with the scored join restricted to each probe's
    // nprobe=2 routed cells
    "q_ann_ivfpq" ->
      s"""${SimilarityOps.ivfPqOracleCtes(kCoarse = 8, cIters = 2,
            m = PqO.m, kSub = 8, iters = 2)},
         |pv AS (
         |  SELECT vec_id,
         |  list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)) AS e,
         |  ${PqO.pvCols}
         |  FROM embeddings WHERE vec_id < 5),
         |route AS (
         |  SELECT vec_id AS probe_id, cell FROM (
         |    SELECT p.vec_id, g.cell,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        list_sum(list_transform(range(1, 65),
         |          i -> (p.e[i] - g.c[i]) * (p.e[i] - g.c[i]))),
         |        g.cell) AS r
         |    FROM pv p CROSS JOIN gclist2 g) WHERE r <= 2),
         |${PqO.dts},
         |c AS (
         |  SELECT vec_id, gc.cell AS gcell, ${PqO.codeCols}
         |  FROM s0assign2 a0 ${PqO.codeJoins}
         |    JOIN gassign2 gc USING (vec_id)),
         |scored AS (
         |  SELECT route.probe_id, c.vec_id AS neighbor_id,
         |    ${PqO.approx} AS approx
         |  FROM c JOIN route ON route.cell = c.gcell
         |    ${PqO.dtJoins(0, "route")}
         |  WHERE c.vec_id <> route.probe_id),
         |${PqO.rankTail}""".stripMargin,

    // exact L2 via the same norm identity the Spark side computes:
    // (nx + ny) - 2*dot, all folds in component order
    "q_ann_l2" -> PqO.l2Sql(asCte = false),

    // recall = matched ground-truth rows / k, per probe; the ivf side
    // is the FULL q_ann_ivfpq chain re-stated as CTEs
    "q_ann_recall" ->
      s"""${SimilarityOps.ivfPqOracleCtes(kCoarse = 8, cIters = 2,
            m = PqO.m, kSub = 8, iters = 2)},
         |pv AS (
         |  SELECT vec_id,
         |  list_transform(embedding[1:64], x -> CAST(x AS DOUBLE)) AS e,
         |  ${PqO.pvCols}
         |  FROM embeddings WHERE vec_id < 5),
         |route AS (
         |  SELECT vec_id AS probe_id, cell FROM (
         |    SELECT p.vec_id, g.cell,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        list_sum(list_transform(range(1, 65),
         |          i -> (p.e[i] - g.c[i]) * (p.e[i] - g.c[i]))),
         |        g.cell) AS r
         |    FROM pv p CROSS JOIN gclist2 g) WHERE r <= 2),
         |${PqO.dts},
         |c AS (
         |  SELECT vec_id, gc.cell AS gcell, ${PqO.codeCols}
         |  FROM s0assign2 a0 ${PqO.codeJoins}
         |    JOIN gassign2 gc USING (vec_id)),
         |scored AS (
         |  SELECT route.probe_id, c.vec_id AS neighbor_id,
         |    ${PqO.approx} AS approx
         |  FROM c JOIN route ON route.cell = c.gcell
         |    ${PqO.dtJoins(0, "route")}
         |  WHERE c.vec_id <> route.probe_id),
         |ivfr AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY approx ASC,
         |      neighbor_id ASC) AS rank FROM scored) WHERE rank <= 10),
         |${PqO.l2Sql(asCte = true)}
         |SELECT ex.probe_id,
         |  sum(CASE WHEN ivfr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM ex LEFT JOIN ivfr ON ivfr.probe_id = ex.probe_id
         |  AND ivfr.neighbor_id = ex.neighbor_id
         |GROUP BY ex.probe_id""".stripMargin,

    // the audit composes the SAME staged CTEs the clean oracle uses:
    // q = quality pass, k2 = exact survivors, nd = near-dup drops
    "q_pipeline_audit" ->
      s"""WITH RECURSIVE $CLEAN_SURV_CTES
         |SELECT d.doc_id,
         |  CASE WHEN qq.doc_id IS NULL THEN 'quality'
         |    WHEN kk.doc_id IS NULL THEN 'exact_dup'
         |    WHEN nd2.doc_id IS NOT NULL THEN 'near_dup'
         |    ELSE 'kept' END AS fate
         |FROM documents d
         |LEFT JOIN q qq ON d.doc_id = qq.doc_id
         |LEFT JOIN k2 kk ON d.doc_id = kk.doc_id
         |LEFT JOIN nd nd2 ON d.doc_id = nd2.doc_id""".stripMargin,

    "q_audit_by_source" ->
      s"""WITH RECURSIVE $CLEAN_SURV_CTES,
         |fates AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN qq.doc_id IS NULL THEN 'quality'
         |      WHEN kk.doc_id IS NULL THEN 'exact_dup'
         |      WHEN nd2.doc_id IS NOT NULL THEN 'near_dup'
         |      ELSE 'kept' END AS fate
         |  FROM documents d
         |  LEFT JOIN q qq ON d.doc_id = qq.doc_id
         |  LEFT JOIN k2 kk ON d.doc_id = kk.doc_id
         |  LEFT JOIN nd nd2 ON d.doc_id = nd2.doc_id)
         |SELECT source, fate, count(*) AS n_docs
         |FROM fates GROUP BY 1, 2""".stripMargin,

    "q_pipeline_clean" -> {
      def hits(words: String) =
        s"len(list_filter(t, x -> list_contains([$words], x)))"
      s"""WITH RECURSIVE $CLEAN_SURV_CTES,
         |lt AS (
         |  SELECT doc_id, $T AS t FROM k2 JOIN surv USING (doc_id)),
         |h AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    CAST(${hits("'the', 'a', 'of', 'and', 'to', 'in'")} AS INT)
         |      AS en_hits,
         |    CAST(${hits("'der', 'die', 'das', 'und', 'ist'")} AS INT)
         |      AS de_hits,
         |    CAST(${hits("'el', 'la', 'de', 'y', 'es'")} AS INT)
         |      AS es_hits,
         |    CAST(${hits("'le', 'la', 'de', 'et', 'est'")} AS INT)
         |      AS fr_hits
         |  FROM lt)
         |SELECT
         |  CASE
         |    WHEN en_hits >= de_hits AND en_hits >= es_hits
         |      AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         |    WHEN de_hits >= es_hits AND de_hits >= fr_hits
         |      AND de_hits > 0 THEN 'de'
         |    WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |    WHEN fr_hits > 0 THEN 'fr'
         |    ELSE 'unknown'
         |  END AS pred_lang,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM h GROUP BY 1""".stripMargin
    },

    "q_ann_cosine_expr" ->
      s"""WITH pairs AS (
         |  SELECT p.vec_id AS probe_id, a.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 65), i ->
         |      CAST(p.embedding[i] AS DOUBLE) *
         |      CAST(a.embedding[i] AS DOUBLE))) /
         |    sqrt(list_sum(list_transform(range(1, 65), i ->
         |        CAST(p.embedding[i] AS DOUBLE) *
         |        CAST(p.embedding[i] AS DOUBLE))) *
         |      list_sum(list_transform(range(1, 65), i ->
         |        CAST(a.embedding[i] AS DOUBLE) *
         |        CAST(a.embedding[i] AS DOUBLE)))) AS cos
         |  FROM embeddings p JOIN embeddings a ON a.vec_id <> p.vec_id
         |  WHERE p.vec_id < 50)
         |SELECT probe_id, neighbor_id FROM (
         |  SELECT probe_id, neighbor_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM pairs) WHERE rn = 1""".stripMargin,

    "q_text_tokens" ->
      s"""SELECT doc_id, CAST(len($T) AS INT) AS n_tokens
         |FROM documents""".stripMargin,

    "q_pipeline_curate" -> {
      s"""WITH RECURSIVE $CLEAN_SURV_CTES,
         |kept AS (
         |  SELECT d.doc_id, d.source, d.n_chars, d.text
         |  FROM documents d JOIN surv USING (doc_id)),
         |cap AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk
         |    FROM kept) WHERE rk <= 30),
         |c AS (
         |  SELECT doc_id, CAST(len($T) AS INT) AS n_tokens
         |  FROM kept JOIN cap USING (doc_id))
         |SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
         |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2000.0)
         |    AS INT) AS shard
         |FROM c
         |WINDOW w AS (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    },

    "q_text_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len($T) AS INT) AS n_tokens,
         |    1.0 - len(list_distinct($T)) / CAST(len($T) AS DOUBLE)
         |      AS dup_token_frac,
         |    $T AS t
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
         |      AS bg
         |  FROM base WHERE len(t) >= 2),
         |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS tc FROM cnt GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
         |  coalesce(tc, 0) * 2 / CAST(b.n_tokens AS DOUBLE)
         |    AS top_bigram_frac
         |FROM base b LEFT JOIN top USING (doc_id)""".stripMargin,

    "q_curate_cap" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 40""".stripMargin,

    "q_pack_shards" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($T) AS INT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
         |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2000.0)
         |    AS INT) AS shard
         |FROM c
         |WINDOW w AS (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($T) AS INT) AS n_tokens,
         |    CAST(sum(CAST(len($T) AS INT)) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tokens
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_tokens,
         |    cum_tokens - n_tokens AS gstart, cum_tokens
         |  FROM c WHERE n_tokens > 0)
         |SELECT doc_id, seq_id,
         |  CAST(greatest(seq_id * 512 - gstart, 0) AS BIGINT)
         |    AS tok_start,
         |  CAST(least((seq_id + 1) * 512 - gstart, n_tokens) AS BIGINT)
         |    AS tok_end
         |FROM (
         |  SELECT doc_id, n_tokens, gstart,
         |    unnest(range(gstart // 512, (cum_tokens - 1) // 512 + 1))
         |      AS seq_id
         |  FROM s)""".stripMargin,

    "q_mixture_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE (${H60("'mix' || CAST(doc_id AS VARCHAR)")} % 1000000)
         |    / 1000000.0
         |  < CASE WHEN source = 'src0' THEN 0.5
         |         WHEN source = 'src1' THEN 0.25
         |         ELSE 1.0 END""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'contact ' || source || '_' || doc_id ||
        |      '@mail.example.com on 10.0.' || (doc_id % 200) ||
        |      '.7 or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[A-Za-z0-9+._%-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_quality_classifier" ->
      s"""WITH $QUALITY_SCORE_CTES
         |SELECT doc_id, score, score > 0 AS keep FROM s""".stripMargin,

    "q_vocab_topk" ->
      s"""SELECT token, n FROM (
         |  SELECT token, count(*) AS n
         |  FROM (SELECT unnest($T) AS token FROM documents)
         |  GROUP BY token)
         |ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "q_text_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |g AS (
        |  SELECT doc_id, ch, count(*) AS cnt, min(n) AS n
        |  FROM c GROUP BY doc_id, ch)
        |SELECT doc_id,
        |  CAST(sum(CAST(-(cnt / CAST(n AS DOUBLE))
        |    * log2(cnt / CAST(n AS DOUBLE)) AS DECIMAL(38, 18)))
        |    AS DOUBLE) AS entropy_bits
        |FROM g GROUP BY doc_id""".stripMargin,

    // self-trained unigram LM: p(tok) = (cnt+1)/(total+|V|); per-doc
    // bits = avg of -log2 p over tokens (decimal-snapped terms)
    "q_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($T) AS tok FROM documents),
         |vocab AS (
         |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (
         |  SELECT sum(cnt) + count(*) AS denom FROM vocab)
         |SELECT doc_id,
         |  CAST(sum(CAST(-log2(CAST(v.cnt + 1 AS DOUBLE) / tot.denom)
         |    AS DECIMAL(38, 18))) AS DOUBLE) / count(*) AS lm_bits
         |FROM toks JOIN vocab v USING (tok) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,

    // rank of md5('ep1' || doc_id), ties (impossible here) on doc_id
    "q_corpus_shuffle" ->
      s"""SELECT doc_id, CAST(row_number() OVER (ORDER BY
         |  ${H60("'ep1' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |  AS INT) AS pos
         |FROM documents""".stripMargin,

    "q_quality_sample" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    coalesce(list_sum([
         |      (${H60("'w' || CAST(" + H60("tok") + " % 4096 AS VARCHAR)")}
         |        % 2001 - 1000) / 1000.0
         |      for tok in t]), 0.0) AS score
         |  FROM toks)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id, score,
         |    least(0.95, greatest(0.05, 0.5 + score / 4)) AS w,
         |    (${H60("'qs' || CAST(doc_id AS VARCHAR)")} % 1000000)
         |      / 1000000.0 AS u
         |  FROM s) q
         |WHERE u < w""".stripMargin,

    "q_chunk_text" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    [array_to_string(list_slice(t, k * 24 + 1, k * 24 + 32), ' ')
         |     for k in range(0, greatest(1,
         |       CAST(ceil((len(t) - 8) / 24.0) AS INT)))] AS chunks
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
         |  unnest(chunks) AS chunk_text
         |FROM c""".stripMargin,

    "q_keywords" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
         |SELECT doc_id, rank, token, tf, df FROM (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS INT)
         |      AS rank
         |  FROM tf JOIN df USING (token)) q
         |WHERE rank <= 3""".stripMargin,

    "q_corpus_stats" ->
      s"""WITH toks AS (
         |  SELECT source, len($T) AS n_tokens, length(text) AS len
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  avg(len) AS avg_chars,
         |  quantile_cont(n_tokens, 0.5) AS p50_tokens,
         |  quantile_cont(n_tokens, 0.9) AS p90_tokens
         |FROM toks GROUP BY source""".stripMargin,

    "q_dup_spans" ->
      s"""WITH $SPAN_CTES,
         |flags AS (
         |  SELECT sh, min(doc_id) < max(doc_id) AS dup
         |  FROM spans GROUP BY sh)
         |SELECT s.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN f.dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  CAST(sum(CASE WHEN f.dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS dup_frac
         |FROM spans s JOIN flags f USING (sh)
         |GROUP BY s.doc_id""".stripMargin,

    "q_dup_span_removal" ->
      s"""WITH toks AS (SELECT doc_id, $T AS t FROM documents),
         |sp AS (
         |  SELECT doc_id, unnest(
         |    [{'i': i, 'sh': ${H60(
             "array_to_string(list_slice(t, i, i + 7), ' ')")}}
         |     for i in range(1, len(t) - 6)]) AS u
         |  FROM toks WHERE len(t) >= 8),
         |s2 AS (SELECT doc_id, u.i AS i, u.sh AS sh FROM sp),
         |fl AS (
         |  SELECT sh, min(doc_id) AS keeper,
         |    min(doc_id) < max(doc_id) AS dup
         |  FROM s2 GROUP BY sh),
         |ds AS (
         |  SELECT s2.doc_id, list(i) AS starts
         |  FROM s2 JOIN fl USING (sh)
         |  WHERE dup AND s2.doc_id > keeper GROUP BY s2.doc_id)
         |SELECT t0.doc_id,
         |  coalesce(array_to_string([t[j] for j in range(1, len(t) + 1)
         |    if len(list_filter(coalesce(starts, []),
         |      s -> s <= j and j <= s + 7)) = 0], ' '), '') AS clean_text
         |FROM toks t0 LEFT JOIN ds ON t0.doc_id = ds.doc_id"""
        .stripMargin,

    "q_corpus_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id, status FROM (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN md5(a.text) IS DISTINCT FROM md5(b.text)
        |           THEN 'changed' END
        |      AS status
        |  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |WHERE status IS NOT NULL""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS len_chars,
         |  CAST(len($T) AS INT) AS n_tokens,
         |  length(replace(text, ' ', ''))
         |    / CAST(len($T) AS DOUBLE) AS avg_token_len,
         |  CAST(length(text) -
         |    length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT)
         |    AS n_punct,
         |  len(list_filter($T, t -> list_contains(
         |      ['the', 'a', 'of', 'and', 'to', 'in'], t)))
         |    / CAST(len($T) AS DOUBLE) AS stop_ratio
         |FROM documents""".stripMargin,

    "q_text_langid" -> {
      def hits(words: String) =
        s"len(list_filter($T, t -> list_contains([$words], t)))"
      val en = hits("'the', 'a', 'of', 'and', 'to', 'in'")
      val de = hits("'der', 'die', 'das', 'und', 'ist'")
      val es = hits("'el', 'la', 'de', 'y', 'es'")
      val fr = hits("'le', 'la', 'de', 'et', 'est'")
      s"""WITH h AS (
         |  SELECT doc_id, CAST($en AS INT) AS en_hits,
         |    CAST($de AS INT) AS de_hits, CAST($es AS INT) AS es_hits,
         |    CAST($fr AS INT) AS fr_hits
         |  FROM documents)
         |SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
         |  CASE
         |    WHEN en_hits >= de_hits AND en_hits >= es_hits
         |      AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
         |    WHEN de_hits >= es_hits AND de_hits >= fr_hits
         |      AND de_hits > 0 THEN 'de'
         |    WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |    WHEN fr_hits > 0 THEN 'fr'
         |    ELSE 'unknown'
         |  END AS pred_lang
         |FROM h""".stripMargin
    },

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "q_text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '( ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+)', 0))
         |    AS INT) AS n_bpe_tokens,
         |  CAST(len($T) AS INT) AS n_ws_tokens
         |FROM documents""".stripMargin,

    // the PNG fixture is solid gray(doc_id % 256) at
    // (8 + doc_id % 40) x (8 + n_chars % 40); PNG is lossless, so the
    // decoded raster reproduces exactly what SQL derives from the row
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 40 AS INT) AS width,
        |  CAST(8 + n_chars % 40 AS INT) AS height,
        |  'png' AS format,
        |  CAST(doc_id % 256 AS INT) AS avg_r
        |FROM documents""".stripMargin,

    // file round trip preserves the bytes, so the decode oracle is
    // identical to the parquet-column path's
    "q_multimodal_ingest" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 40 AS INT) AS width,
        |  CAST(8 + n_chars % 40 AS INT) AS height,
        |  'png' AS format,
        |  CAST(doc_id % 256 AS INT) AS avg_r
        |FROM documents""".stripMargin,

    // the WAV fixture is a 16-bit mono 8 kHz square wave: length
    // 400 + (n_chars % 50)*16 samples (a multiple of the period, so
    // mean |sample| is EXACTLY the amplitude 1000 + doc_id % 20000);
    // WAV PCM is lossless, so the decoded stream reproduces exactly
    // what SQL derives from the row
    "q_multimodal_audio" ->
      """SELECT doc_id,
        |  8000 AS sample_rate,
        |  1 AS channels,
        |  16 AS bits,
        |  CAST(400 + (n_chars % 50) * 16 AS BIGINT) AS n_samples,
        |  CAST(1000 + doc_id % 20000 AS BIGINT) AS mean_abs
        |FROM documents""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  16 + (('0x' || substr(md5(text), 1, 2))::INT % 128) AS width,
        |  16 + (('0x' || substr(md5(text), 3, 2))::INT % 128) AS height,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CASE WHEN ('0x' || substr(md5(text), 5, 2))::INT % 2 = 0
        |    THEN 'jpeg' ELSE 'png' END AS format
        |FROM documents""".stripMargin,

    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    16 + (('0x' || substr(md5(text), 1, 2))::INT % 128) AS width,
        |    16 + (('0x' || substr(md5(text), 3, 2))::INT % 128) AS height
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(floor(width * least(64.0 / width, 64.0 / height, 1.0))
        |    AS INT) AS out_w,
        |  CAST(floor(height * least(64.0 / width, 64.0 / height, 1.0))
        |    AS INT) AS out_h
        |FROM m""".stripMargin,

    // frame plan: every 4th frame index of n_frames = n_bytes/64
    // (n_bytes = utf-8 octet length, matching the payload encoding);
    // integer floor division on both sides — Spark's double→int cast
    // truncates, DuckDB's rounds, so // keeps the engines aligned.
    // range's exclusive stop makes n_frames = 0 yield NO rows, the
    // same empty-array contract as frameSample
    // solid-gray rasters: interpolation cannot move the mean, and the
    // box-fit floor/least math is the same IEEE arithmetic both sides
    "q_multimodal_resize_exec" ->
      """SELECT doc_id,
        |  CAST(greatest(1, floor((8 + doc_id % 40) * s)) AS INT)
        |    AS out_w,
        |  CAST(greatest(1, floor((8 + n_chars % 40) * s)) AS INT)
        |    AS out_h,
        |  CAST(doc_id % 256 AS INT) AS avg_r
        |FROM (SELECT doc_id, n_chars,
        |    least(CAST(16 AS DOUBLE) / (8 + doc_id % 40),
        |          CAST(16 AS DOUBLE) / (8 + n_chars % 40),
        |          CAST(1 AS DOUBLE)) AS s
        |  FROM documents)""".stripMargin,

    // the raw container is lossless by construction, so the decoded
    // frame stats are exactly the SQL of the generator parameters
    "q_multimodal_video" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(4 + doc_id % 8 AS INT) AS width,
        |  CAST(4 + n_chars % 8 AS INT) AS height,
        |  CAST(3 + doc_id % 6 AS INT) AS n_frames,
        |  CAST((doc_id + f) % 256 AS INT) AS avg_pixel
        |FROM (SELECT doc_id, n_chars,
        |    unnest(range(0, 3 + doc_id % 6, 2)) AS f
        |  FROM documents)""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx
        |FROM (SELECT doc_id, unnest(range(0,
        |    CAST(octet_length(encode(text)) // 64 AS INT),
        |    4)) AS f
        |  FROM documents)""".stripMargin,

    // the GVDF chain decode is lossless end to end, so geometry,
    // keyframe structure AND exact pixel sums all have closed forms:
    // noise sum over all pixels, minus the block-covered noise, plus
    // the block bytes
    "q_multimodal_interframe" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  (f % 3 = 0) AS is_key,
        |  CAST(
        |    list_sum([(doc_id + f + i * 37) % 256
        |      for i in range(0, w * h)])
        |    - list_sum([(doc_id + f + i * 37) % 256
        |      for i in range((f * 97) % (w * h - 16),
        |                     (f * 97) % (w * h - 16) + 16)])
        |    + 16 * ((doc_id * 3 + f * 11) % 256)
        |    AS BIGINT) AS px_sum
        |FROM (SELECT doc_id,
        |    16 + (doc_id % 8) * 4 AS w,
        |    16 + (n_chars % 8) * 4 AS h,
        |    4 + doc_id % 4 AS n,
        |    unnest(range(0, 4 + doc_id % 4, 2)) AS f
        |  FROM documents)""".stripMargin,

    // container facts of the MJPEG payloads: geometry derives from the
    // same doc metadata the encoder used; frames sampled at stride 2
    "q_multimodal_mjpeg" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(16 + (doc_id % 8) * 4 AS INT) AS width,
        |  CAST(16 + (n_chars % 8) * 4 AS INT) AS height,
        |  CAST(2 + doc_id % 4 AS INT) AS n_frames
        |FROM (SELECT doc_id, n_chars,
        |    unnest(range(0, 2 + doc_id % 4, 2)) AS f
        |  FROM documents)""".stripMargin
  )
}
