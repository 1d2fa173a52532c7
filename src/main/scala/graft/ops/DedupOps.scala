package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact hashing, n-gram Jaccard, MinHash+LSH banding, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB corpus):
  *  - Signatures are computed with ONE md5 per shingle/token; the k
  *    MinHash functions derive from that base via a universal hash
  *    family mod a prime ((a_i*h + b_i) mod p — linear maps WITHOUT the
  *    mod are order-preserving and would collapse every minhash to the
  *    same argmin). Integer derivation is ~100× cheaper than seeded
  *    digests and engine-portable, so the DuckDB oracle reproduces it
  *    bit-for-bit.
  *  - Spark's higher-order functions (transform/aggregate) are
  *    interpreted (CodegenFallback), so per-PAIR work never uses them:
  *    SimHash lowers to an explode + one codegen'd wide aggregate, and
  *    candidate verification works on exploded postings or integer
  *    signatures. Higher-order expressions only run once per document.
  *  - Candidate pairing NEVER does an O(n^2) crossJoin (except the
  *    explicitly-named brute-force baseline): pairs come from a
  *    postings-list shuffle on a shingle hash or an LSH band key, so
  *    work is sum over keys of |bucket|^2, bounded by the band params.
  */
object DedupOps {

  /** Whitespace tokens of the lowercased, trimmed text — the ONE
    * tokenization, shared with [[TextOps.TOKENS]]: the quality filter
    * and keep-best token counts must agree with the shingle/span/
    * simhash lowerings about what a token is, or near-dup candidates
    * and survivor selection silently diverge.
    */
  val TOKENS: String = TextOps.TOKENS

  /** Distinct word 3-gram shingles over a materialized token column
    * `t` (two-phase on purpose: referencing $TOKENS inline would
    * re-evaluate the regex split for every element access — measured
    * 18× slower at sf0.1).
    */
  val SHINGLES =
    """array_distinct(transform(
      |  sequence(0, size(t) - 3),
      |  i -> concat(element_at(t, i + 1), ' ',
      |              element_at(t, i + 2), ' ',
      |              element_at(t, i + 3))))""".stripMargin

  /** Portable 60-bit hash: md5 hex prefix → bigint. The same value is
    * computable in any engine with md5 (DuckDB:
    * ('0x'||substr(md5(x),1,15))::bigint).
    */
  def h60(sqlExpr: String): String =
    s"cast(conv(substr(md5($sqlExpr), 1, 15), 16, 10) as bigint)"

  /** Mersenne prime 2^31-1: the universal-hash modulus. Base hashes are
    * reduced mod P so a_i*h never overflows int64.
    */
  val P = 2147483647L

  /** Lifecycle for the intermediate frames the dedup/ANN paths persist
    * (shingles, candidate sets, unit vectors, band frames): each frame
    * feeds 2+ consumers, and the persist saves recomputing the postings
    * pipeline per consumer — but un-released they accumulate one
    * MEMORY_AND_DISK entry per call for the session lifetime (the r6
    * official bench reached `q_pipeline_curate` with dozens of stale
    * frames resident and paid 5× for it). Delegated to
    * [[graft.olap.Pins]]: query-boundary scoped release where the
    * caller opens a scope (`Bench`/`Verify` do), a bounded FIFO
    * otherwise.
    */
  private[ops] def pin(df: DataFrame): DataFrame = graft.olap.Pins.pin(df)

  /** Exact dedup survivors: min doc_id per content hash. The classic
    * hash-groupBy — one shuffle on the 128-bit digest, no skew (hashes
    * are uniform).
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(expr("md5(text)").as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))

  /** Rebalance a frame whose scan delivered far fewer partitions than
    * the session's parallelism (a single small parquet row-group reads
    * as ONE task, serializing all per-doc CPU work downstream of it).
    * At corpus scale a scan already carries thousands of partitions, so
    * this never fires — the repartition is a small-input guard, not a
    * shuffle the big path pays.
    */
  private def rebalanced(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // plan-size estimate, NOT df.rdd.getNumPartitions: touching .rdd
    // forces eager physical planning + RDD conversion on the driver
    // during plan CONSTRUCTION (VERDICT r5 nit). A frame at most two
    // default parquet split sizes cannot have scanned wide, so fan it
    // out; a corpus-scale scan blows past the bound and never pays the
    // shuffle.
    // sum LEAF stats, not the plan root's: join selectivity guesses
    // inflate root sizeInBytes multiplicatively, which would skip the
    // fan-out exactly on the joined inputs (CleanPipeline's filtered
    // corpus) that need it most
    val plan = df.queryExecution.optimizedPlan
    // PROVABLY-EMPTY fast path (opt r20): the optimizer folds limit(0)
    // / contradictory filters to an empty LocalRelation; repartitioning
    // it fans one empty frame into p empty tasks — the empty base build
    // of the streaming cluster index paid six 32-task stages for
    // schema-only writes. Repartition of empty == empty, so skipping is
    // value-identical.
    plan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.isEmpty => df
      case _ =>
        val bytes = plan.collectLeaves().map(_.stats.sizeInBytes).sum
        if (bytes <= 2L * 134217728L) df.repartition(p) else df
    }
  }

  /** (doc_id, shingles) with short docs dropped — the pure projection,
    * no rebalance guard, so it applies unchanged to STREAMING frames
    * (the streaming minhash index shares it; batch/stream parity rests
    * on this being the ONE copy of the shingle lowering).
    */
  def shingledRaw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(TOKENS).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(SHINGLES).as("shingles"))

  /** Batch [[shingledRaw]] behind the small-input rebalance guard. */
  def shingled(docs: DataFrame): DataFrame = shingledRaw(rebalanced(docs))

  /** Near-dup pairs by EXACT n-gram Jaccard >= threshold, in two
    * phases:
    *  1. candidate generation over 64-bit shingle hashes — the narrow
    *     shuffle keys that make the quadratic postings self-join cheap.
    *     A hash collision can only MERGE two distinct shingles, so the
    *     approximate n_common (and therefore the approximate Jaccard)
    *     is an upper bound: every true pair survives the threshold
    *     filter — no false negatives.
    *  2. exact verification of the candidate set on the real shingle
    *     arrays — ONE pass (see [[verifyJaccard]]): each candidate
    *     explodes to its two (pair, doc_id) sides, one shuffle-hash
    *     join against the shingled corpus, and a per-pair capped
    *     collect reassembles (sa, sb); never broadcast — at 100 TB
    *     the full shingled corpus does not fit on any single
    *     executor.
    * Pair work in phase 1 is Σ df² per shingle hash, so one boilerplate
    * shingle shared by 1M docs would create a 10¹²-row bucket. `maxDf`
    * caps the document frequency a posting may have: ubiquitous
    * shingles carry ~zero Jaccard signal but all of the skew. The cap
    * is enforced INSIDE the bucket aggregation by the native
    * [[graft.functions.CollectCapped collect_capped]] aggregate, which
    * stops buffering a group past maxDf entries and evaluates it to
    * NULL — so the one postings shuffle both builds the buckets and
    * drops the Zipf head, with every buffer bounded at maxDf × 16 B
    * map-side and reduce-side. (The previous shape spent a separate
    * full-postings frequency aggregation plus a broadcast anti-join to
    * get the same bound.) With the cap active a pair whose overlap is
    * exclusively df>maxDf shingles can be missed (bound recorded in
    * SCALING.md); corpora where that matters should route to
    * [[minhashLsh]].
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      maxDf: Int = 100000): DataFrame = {
    graft.functions.CollectCapped.register(docs.sparkSession)
    val sh = pin(shingled(docs).persist())
    // each posting carries its doc's set size, so the pair aggregation
    // yields (common, |A|, |B|) in ONE groupBy — no size-lookup joins
    // after the pair shuffle
    val rawPosts = sh.select(col("doc_id"),
        size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), col("n_sh"),
        xxhash64(col("shingle")).as("shh"))
    // pair generation WITHIN each posting bucket: one shuffle on shh,
    // then a bounded double-explode — no self-join, no window sort, and
    // the postings pipeline runs exactly once (hot buckets die inside
    // the aggregate, see scaladoc above)
    val buckets = rawPosts.groupBy("shh")
      .agg(expr(s"collect_capped(struct(doc_id, n_sh), $maxDf)").as("ps"))
      .filter(col("ps").isNotNull && size(col("ps")) >= 2)
    // Opt r20 (guide §2.3 "shuffle fewer bytes", VERDICT r19 item 1):
    // two exact cuts on the pair stream BEFORE its exchange — the
    // dominant shuffle of this query (21.3 of 31 MB at sf0.1):
    //  * SIZE-RATIO PRUNE at emission: J(A,B) <= min(|A|,|B|) /
    //    max(|A|,|B|) (intersection <= min, union >= max), so a pair
    //    with least/greatest < threshold can never verify. The double
    //    division is the same correctly-rounded, monotone operation
    //    verify's jaccard uses, so the prune can only drop pairs whose
    //    exact check would also fail (x >= y in reals implies
    //    fl(x) >= fl(y)). Kills ~25% of emissions at sf0.1 (uniform
    //    10-100-token docs); more on corpora with real length spread.
    //  * ONE size column, ONE min buffer: the threshold test
    //    c/(n_a+n_b-c) only needs the SUM n_a+n_b, and first()'s
    //    aggregation buffer serializes as TWO fields (value + valueSet
    //    flag) where min()'s is one — so carrying min(n_a+n_b) instead
    //    of first(n_a), first(n_b) drops the partial row from 7 to 4
    //    slots. min == the value (n_sh is a function of doc_id, so
    //    n_sum is constant within a pair group) — integer-identical
    //    filter input.
    val pairRows = buckets
      .select(col("ps"), explode(col("ps")).as("a"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n_sh"), col("b.n_sh")).cast("double") /
          greatest(col("a.n_sh"), col("b.n_sh")) >= threshold)
    val cand = pairRows
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // count(1), not countDistinct: posting multiplicity from hash
      // collisions only ADDS rows, so the plain count stays an upper
      // bound — and avoids a distinct-aggregate over the pair stream
      .agg(count(lit(1)).as("n_common_ub"),
        min(col("a.n_sh") + col("b.n_sh")).as("n_sum"))
      .filter(col("n_common_ub").cast("double") /
        (col("n_sum") - col("n_common_ub")) >= threshold)
      .select("doc_a", "doc_b")
    verifyJaccard(sh, cand, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair set against a
    * shingled (doc_id, shingles) frame, in ONE pass over the corpus:
    * each pair explodes to its two (pair, doc_id) sides, one
    * partitioned join attaches the shingle set per side, and a per-pair
    * aggregate reassembles (sa, sb) for the intersect. The former shape
    * (id-distinct → semi-join → one shuffle join per side) shuffled the
    * same corpus once but spent 3 extra exchanges and a persist on the
    * candidate frame. The join stays `shuffle_hash`, never broadcast:
    * the candidate set is unbounded on a near-duplicate-heavy corpus,
    * and the shingle side is corpus-sized by definition. (A BROADCAST
    * semi of candidate ids would prune the corpus map-side when
    * candidates are provably sparse, but an unbounded build side is
    * exactly the 100 TB OOM this module bans; a fixed-size Bloom prune
    * was tried in r20 and reverted — see the inline note.) The per-pair
    * aggregate buffers exactly two (side, shingles) entries — via
    * [[graft.functions.CollectCapped collect_capped]], a
    * TypedImperativeAggregate, so it plans as ObjectHashAggregate;
    * built-in first()/max() over array columns would fall back to
    * SortAggregate and pay two sorts of the pair-side frame.
    * Shingle arrays are distinct by construction ([[SHINGLES]]), so
    * |A ∪ B| = |A| + |B| − |A ∩ B| holds on raw sizes.
    */
  private def verifyJaccard(sh: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    graft.functions.CollectCapped.register(sh.sparkSession)
    // Tried and REVERTED (r20): a candidate-doc Bloom prune of the
    // corpus side via scalar subquery (guide §3.2) — exact, and it cut
    // the verify exchange's bytes, but the candidate persist + filter
    // build added a job to EVERY verify consumer and measurably
    // regressed q_dedup_minhash/clusters/stream_clusters at sf0.1
    // (1.45→2.27 / 1.97→2.89 / 4.73→5.50 min-of-4); the corpus-side
    // exchange it saves is only ~3.7 MB here.
    cand
      .select(struct(col("doc_a"), col("doc_b")).as("pk"))
      .select(col("pk"),
        explode(array(col("pk.doc_a"), col("pk.doc_b"))).as("doc_id"))
      .join(sh.hint("shuffle_hash"), "doc_id")
      .groupBy("pk")
      // a pair whose two sides collapsed to one row (a doc missing
      // from sh — impossible for postings-derived candidates) yields a
      // 1-element array; try_element_at (NOT ss[i], which throws
      // INVALID_ARRAY_INDEX under this build's ANSI-on default) then
      // reads the missing side as NULL and the jaccard filter drops
      // the pair, matching the old inner-join behavior. The converse —
      // MORE than 2 rows per pair, i.e. a corpus with duplicated
      // doc_ids — overflows the cap and also drops the pair: every
      // dedup op here assumes doc_id is a key (duplicated ids already
      // corrupt the candidate counts upstream of any verify shape).
      .agg(expr(
        "collect_capped(struct(doc_id = pk.doc_a AS is_a, shingles), 2)")
        .as("ss"))
      .select(col("pk"),
        expr("CASE WHEN try_element_at(ss, 1).is_a " +
          "THEN try_element_at(ss, 1).shingles " +
          "ELSE try_element_at(ss, 2).shingles END").as("sa"),
        expr("CASE WHEN try_element_at(ss, 1).is_a " +
          "THEN try_element_at(ss, 2).shingles " +
          "ELSE try_element_at(ss, 1).shingles END").as("sb"))
      .withColumn("n_common",
        size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("pk.doc_a").as("doc_a"),
        col("pk.doc_b").as("doc_b"), col("jaccard"))
  }

  /** MinHash signature array: base hash per shingle (one md5), then k
    * universal-hash derivations min'd over the shingle set.
    */
  def minhashExpr(k: Int): String =
    s"""transform(sequence(0, ${k - 1}), i ->
       |  array_min(transform(bh, h ->
       |    ((2 * i + 3) * h + 7 * i + 1) % $P)))""".stripMargin

  /** Per-band signature keys from a materialized `sig` column:
    * bands × rows minhashes → `bands` underscore-joined sub-keys.
    */
  private def bandSigExpr(bands: Int, rows: Int): String =
    s"""transform(sequence(0, ${bands - 1}), b ->
       |  concat_ws('_', transform(sequence(0, ${rows - 1}),
       |    r -> cast(element_at(sig, b * $rows + r + 1) as string))))"""
      .stripMargin

  /** The MinHash LSH band table (doc_id, band_idx, band_sig) as PURE
    * map-only column expressions over a shingled (doc_id, shingles)
    * frame — no persist, no shuffle, so it runs unchanged on batch and
    * STREAMING frames (the streaming near-dup index applies it to
    * `readStream` documents; batch/stream parity is by construction).
    */
  def bandTable(sh: DataFrame, bands: Int, rows: Int): DataFrame =
    sh.withColumn("bh",
        expr(s"transform(shingles, s -> ${h60("s")} % $P)"))
      .withColumn("sig", expr(minhashExpr(bands * rows)))
      .select(col("doc_id"),
        posexplode(expr(bandSigExpr(bands, rows)))
          .as(Seq("band_idx", "band_sig")))

  /** (shingled frame, banded signature frame) for one corpus — the
    * shared front half of [[minhashLsh]] and [[crossContamination]].
    */
  private def shingleBands(docs: DataFrame, bands: Int,
      rows: Int): (DataFrame, DataFrame) = {
    val sh = pin(shingled(docs).persist())
    (sh, bandTable(sh, bands, rows))
  }

  /** LSH candidate pairs verified by exact Jaccard.
    *
    * Pipeline: base shingle hashes → minhash signatures (k = bands*rows)
    * → per-band signature string → explode (doc, band_idx, band_sig) →
    * shuffle on band key → pair docs sharing any band → distinct pairs
    * → exact Jaccard verify of the candidates only.
    */
  def minhashLsh(docs: DataFrame, bands: Int, rows: Int,
      threshold: Double): DataFrame = {
    val (sh, banded0) = shingleBands(docs, bands, rows)
    val banded = pin(banded0.persist())
    // exact verify over candidates only — the shared one-pass join
    // (the former per-side join pair shuffled the corpus twice)
    verifyJaccard(sh, bandCandidates(banded, banded, self = true),
      threshold)
  }

  /** LSH candidate pairs from banded signature frames: documents
    * sharing any (band_idx, band_sig). Self mode pairs a frame with
    * itself, generating each unordered pair once via `doc_id <`;
    * cross mode pairs a probe side against a full band table and
    * canonicalizes (least, greatest). ONE definition so every
    * consumer — in-memory LSH, the persisted cluster-index build, and
    * incremental append — generates candidates identically; a scheme
    * change here (e.g. a hot-band cap) reaches all three at once.
    */
  private def bandCandidates(probe: DataFrame, index: DataFrame,
      self: Boolean): DataFrame = {
    val joined = probe.as("a").join(index.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        (if (self) col("a.doc_id") < col("b.doc_id")
         else col("a.doc_id") =!= col("b.doc_id")))
    (if (self)
      joined.select(col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
    else
      joined.select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b")))
      .distinct()
  }

  /** Round-boundary lineage cut for the iterative CC loops
    * ([[graft.olap.Pins.rawCut]]): checkpoint blocks bypass the SQL
    * CacheManager, so waiting for the GC-driven ContextCleaner to free
    * superseded rounds leaks one resident RDD per call in a long
    * session — the loops below free each superseded round with
    * `Pins.freeCut` as soon as the next round is materialized, and
    * register the final frame with `Pins.adopt` so it releases at the
    * query boundary like every other pin.
    */
  private def cut(df: DataFrame): DataFrame = graft.olap.Pins.rawCut(df)

  /** Connected components over an undirected edge list — min-label
    * propagation: every node starts as its own cluster and repeatedly
    * takes the minimum label in its neighborhood until a fixpoint.
    * Deterministic (labels are min doc_ids), so oracle-reproducible
    * against a recursive-CTE transitive closure.
    *
    * Scale design: each round is one shuffle join (edges ⋈ labels on
    * the dst key) plus one map-side-combining min aggregation — the
    * textbook distributed CC inner loop. Rounds = graph diameter;
    * near-dup graphs are dense blobs with tiny diameters (a chain of
    * borderline-similar documents is the pathological case, bounded by
    * `maxIters`; corpora with genuinely deep chains would switch to
    * the large-star/small-star doubling variant, which reuses exactly
    * this join+min round shape). The per-round `changed` count is a
    * driver-side convergence test like the k-means model collect —
    * O(1) rows, not data.
    */
  def components(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .persist()
    var labels = nodes.select(col("doc_id"),
      col("doc_id").as("cluster_id"))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster_id").as("nbr")), "dst")
        .groupBy(col("src"))
        .agg(min("nbr").as("nbr_min"))
      // localCheckpoint, not persist: `next` references `labels` TWICE
      // (neighbor-min join + the update join), so an un-truncated
      // logical plan doubles each round — exponential plan text that
      // OOMs the driver rendering it long before the data matters.
      // The eager checkpoint cuts lineage to the materialized RDD;
      // superseded round RDDs are freed by the ContextCleaner once
      // unreferenced.
      val next = labels
        .join(nbrMin.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
        .transform(cut)
      changed = next
        .join(labels.select(col("doc_id"),
          col("cluster_id").as("old")), "doc_id")
        .filter(col("cluster_id") =!= col("old")).count()
      // the changed-count consumed both frames; the superseded round's
      // checkpoint blocks are dead now (round 0's `labels` is the
      // caller's plain projection — not ours to free)
      if (it > 0) graft.olap.Pins.freeCut(labels)
      labels = next
      it += 1
    }
    sym.unpersist(blocking = false)
    // a silent non-converged return would hand back WRONG clusters
    // (a >maxIters-diameter chain split mid-propagation); fail loudly
    if (changed > 0) {
      graft.olap.Pins.freeCut(labels)
      throw new IllegalStateException(
        s"components() did not converge in $maxIters rounds " +
          s"($changed labels still changing) — raise maxIters or use " +
          "[[componentsStar]] for deep-chain graphs")
    }
    // checkpointed: materialized, lineage-free; released at the
    // consuming query's scope exit
    graft.olap.Pins.adopt(labels)
  }

  /** Connected components by alternating large-star / small-star
    * rounds (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the deep-chain-safe variant [[components]]'
    * scaladoc points to: each round contracts paths toward component
    * minima, converging in O(log n) rounds on ANY topology, where
    * min-label propagation needs diameter rounds (a 1000-link chain of
    * borderline near-dups costs ~10 rounds here vs 1000 there).
    *
    * Both half-rounds are a groupBy-min + a join — no collect_set
    * neighborhood buffering: the per-node minimum comes from a
    * map-side-combining aggregate and the rewiring is a shuffle join
    * against that (node, min) table, so a hub node whose neighborhood
    * is the whole component never materializes a giant array.
    * Convergence is detected on a one-row (count, hash-sum) signature
    * of the canonical edge set — O(1) driver data per round.
    */
  def componentsStar(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 30): DataFrame =
    componentsStarCanonical(
      edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      nodes, maxRounds)

  /** [[componentsStar]] over an ALREADY canonical (u, v) edge frame
    * (self-loops removed, deduped) — skips the normalize
    * filter+distinct shuffle that [[componentsAuto]]'s routing has
    * already paid on the same frame. The one checkpoint here is still
    * required: the loop's per-round freeCut discipline assumes `e` is
    * a cut it owns.
    */
  private def componentsStarCanonical(e0: DataFrame, nodes: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    var e = e0.transform(cut)
    var signature = (-1L, -1L)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: every neighbor LARGER than u rewires to the
      // minimum of u's closed neighborhood. No distinct on sym/ls: the
      // min aggregates are duplicate-insensitive and canon/next dedup
      // downstream — each removed distinct is a removed per-round
      // shuffle (the loop's cost at small graph sizes is almost
      // entirely per-round stage overhead).
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: canonicalize to (larger, smaller) and point every
      // member of u's smaller-neighborhood (and u) at its minimum.
      // canon is referenced twice (mins2 + the rewiring join) but NOT
      // checkpointed or distinct'd: mins2's min and the rewiring join
      // are duplicate-insensitive and `next` dedups, so a distinct
      // here would be one more per-round exchange for nothing. The two
      // subtrees recompute canon's cheap map work from the upstream
      // exchanges (which ARE reused), and the result is consistent
      // because canon derives from the materialized checkpoint `e`
      // through deterministic hash exchanges. Plan text stays bounded:
      // cut(next) resets lineage every round, so the doubling is a
      // constant factor per round, never compounding.
      val canon = ls
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins2 = canon.groupBy("u").agg(min(col("v")).as("m"))
      val ss = canon.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
      val next = ss
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct().transform(cut)
      val sig = next
        .agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
        .as[(Long, Option[Long])].head() match {
          case (c, h) => (c, h.getOrElse(0L))
        }
      // `next` is materialized (eager cut) and its signature read, so
      // the previous round's edge frame is dead — free its checkpoint
      // blocks now instead of leaking them to the ContextCleaner
      graft.olap.Pins.freeCut(e)
      e = next
      converged = sig == signature
      signature = sig
      rounds += 1
    }
    if (!converged) {
      graft.olap.Pins.freeCut(e)
      throw new IllegalStateException(
        s"componentsStar did not converge in $maxRounds rounds")
    }
    // fixpoint: every edge points a node at its component minimum;
    // uncovered nodes are their own singleton component
    // the converged edge frame is a checkpoint (released at the
    // consuming query's scope exit), so the label join's lineage is
    // one join deep regardless of round count
    nodes.select(col("doc_id"))
      .join(graft.olap.Pins.adopt(e)
        .select(col("u").as("doc_id"), col("v").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Connected components with a cheap-graph fast path: the verified
    * near-dup edge set is usually a VANISHING fraction of the corpus
    * (dup pairs, not documents), so when the deduped edge count fits
    * the driver comfortably a single union-find pass replaces ~log n
    * distributed star rounds (each ~4 exchanges + a signature action)
    * — the same bounded-driver-model trade as the k-means centroid and
    * bloom-bytes collects. Above `driverEdgeLimit` (default 2M edges ≈
    * 32 MB of longs) it falls through to [[componentsStar]], the
    * O(log n)-round any-topology variant — the 100 TB path. Labels are
    * identical by construction (component-minimum doc_id both ways;
    * spec-pinned against both variants and a reference union-find).
    */
  def componentsAuto(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 30, driverEdgeLimit: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = pin(edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v")).distinct().persist())
    if (e.count() > driverEdgeLimit) {
      // already canonical (filtered + distinct'd + persisted above):
      // route past the star entry's normalize shuffle
      componentsStarCanonical(e, nodes, maxRounds)
    } else {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      e.as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      // only non-root nodes need rows: a root labels to itself, which
      // is exactly what the singleton coalesce below produces
      val labels = parent.keysIterator.toSeq.map(id => (id, find(id)))
        .toDF("doc_id", "cluster_id")
      nodes.select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
  }

  /** Near-dup CLUSTER assignment: MinHash-LSH verified pairs →
    * connected components → (doc_id, cluster_id) for every document
    * (non-duplicated docs are their own singleton cluster). This is
    * the transitive-closure form real dedup pipelines keep: a chain
    * A≈B≈C collapses to ONE representative even when A and C are not
    * themselves a near-dup pair — the pairwise drop-the-higher-id rule
    * cannot express that. Components run through [[componentsAuto]]:
    * driver union-find on cheap edge sets, distributed star rounds
    * past the bound.
    */
  def nearDupClusters(docs: DataFrame, bands: Int = 4, rows: Int = 2,
      threshold: Double = 0.5, maxIters: Int = 20): DataFrame = {
    val pairs = minhashLsh(docs, bands, rows, threshold)
      .select("doc_a", "doc_b")
    componentsAuto(pairs, docs.select(col("doc_id")), maxIters)
  }

  /** Cluster-aware keep-BEST survivor selection: group the corpus into
    * transitive near-dup clusters ([[nearDupClusters]]) and keep, per
    * cluster, the document with the most tokens (tie: lowest doc_id) —
    * what a production pipeline wants when near-dups differ in
    * completeness (a truncated mirror loses to the full page), where
    * keep-min-id keeps whichever copy crawled first. Returns the
    * surviving (doc_id, cluster_id, n_tokens) rows.
    *
    * Scale: the survivor pick is one rank window over cluster_id
    * (map-side WindowGroupLimit prune before the exchange); the token
    * count is a map-side projection joined on doc_id.
    */
  def keepBestPerCluster(docs: DataFrame, bands: Int = 4, rows: Int = 2,
      threshold: Double = 0.5): DataFrame =
    keepBestPerClusterFrom(
      nearDupClusters(docs, bands, rows, threshold), docs)

  /** [[keepBestPerCluster]] over an already-computed (doc_id,
    * cluster_id) frame — the shape consumers use against a PERSISTED
    * cluster index ([[readClusterLabels]]): at 100 TB components are
    * computed once and every downstream policy reads them.
    */
  def keepBestPerClusterFrom(clusters: DataFrame,
      docs: DataFrame): DataFrame = {
    val sized = docs.select(col("doc_id"),
      expr(s"size(${TextOps.TOKENS})").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    clusters.join(sized, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "cluster_id", "n_tokens")
  }

  /** Leakage-safe train/val/test split: the unit of assignment is the
    * near-dup CLUSTER, so near-duplicate documents can never straddle
    * a split boundary — hashing raw doc ids is the classic
    * eval-contamination path (the val copy of a duplicated page leaks
    * its train twin's content). Deterministic and engine-portable:
    * bucket = 60-bit md5 hash of the cluster id mod 100, split by
    * trainPct/valPct thresholds. Returns (doc_id, cluster_id, split).
    *
    * Scale: one map-side projection over the cluster frame — the split
    * adds no shuffle beyond the CC itself, and re-running with a grown
    * corpus keeps prior assignments stable wherever the cluster
    * minimum is unchanged.
    */
  def splitByCluster(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5,
      bands: Int = 4, rows: Int = 2, threshold: Double = 0.5): DataFrame =
    splitByClusterFrom(nearDupClusters(docs, bands, rows, threshold),
      trainPct, valPct)

  /** [[splitByCluster]] over an already-computed (doc_id, cluster_id)
    * frame — the persisted-index consumer shape: one map-side
    * projection, no shuffle beyond reading the labels.
    */
  def splitByClusterFrom(clusters: DataFrame, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = s"(${h60("cast(cluster_id as string)")} % 100)"
    clusters.withColumn("split",
      expr(s"CASE WHEN $bucket < $trainPct THEN 'train' " +
        s"WHEN $bucket < ${trainPct + valPct} THEN 'val' " +
        "ELSE 'test' END"))
  }

  /** Marker file guarding [[writeClusterIndex]]'s rebuild wipe. */
  val ClusterMarker = "_graft_clusters.json"

  /** The ONE rendering of the cluster-index marker content — write
    * and append compare it verbatim, so a parameter-mismatched handle
    * can never band new docs differently than the persisted corpus.
    */
  private def clusterMarkerJson(bands: Int, rows: Int,
      threshold: Double): String =
    s"""{"kind":"near_dup_clusters","bands":$bands,"rows":$rows,""" +
      s""""threshold":$threshold}"""

  /** A persisted near-dup CLUSTER index — the disk-backed twin of
    * [[nearDupClusters]], mirroring the IVF-PQ index trio: at 100 TB
    * you compute connected components ONCE and every policy
    * (keep-best, leakage-safe split, dedup reporting) reads the
    * labels; recomputing minhash+CC inside each consumer is the
    * anti-pattern this artifact removes. On-disk layout under `path`:
    *
    *   - `_graft_clusters.json` — marker + the banding params (append
    *     must band new docs identically or candidate recall changes)
    *   - `shingles/ingest=<id>/` — (doc_id, shingles), append-only:
    *     the exact-verify side data for future appends
    *   - `bands/ingest=<id>/` — (doc_id, band_idx, band_sig),
    *     append-only: the LSH candidate index for future appends
    *   - `labels/gen=<g>/` — full-corpus (doc_id, cluster_id)
    *     snapshots; readers take the max generation. Labels are
    *     snapshotted (not appended) because a new doc BRIDGING two
    *     old clusters relabels old docs — label rows are 16 bytes/doc,
    *     noise next to the corpus, while the expensive shingle/band
    *     tables never need rewriting.
    */
  final case class ClusterIndex(path: String, bands: Int, rows: Int,
      threshold: Double)

  /** Build and WRITE the cluster index: one shingle pass feeds the
    * band table, the LSH self-join + exact verify produce the edge
    * set, components label every doc, and all three tables land under
    * `path` (marker-guarded wipe of any prior index — see
    * [[Artifacts.claimIndexDir]]).
    */
  def writeClusterIndex(docs: DataFrame, path: String, bands: Int = 4,
      rows: Int = 2, threshold: Double = 0.5): ClusterIndex =
      graft.olap.Pins.scoped {
    // Pins.scoped (opt r20): every consumer of the pinned frames (the
    // five table writes) executes inside, so the frames are released
    // when the build ends, not left to the global FIFO on threads
    // without a query scope (direct library use, streaming setup).
    val spark = docs.sparkSession
    Artifacts.claimIndexDir(spark, path, ClusterMarker,
      clusterMarkerJson(bands, rows, threshold))
    val sh = pin(shingled(docs).persist())
    val banded = pin(bandTable(sh, bands, rows).persist())
    // the doc universe and the verified edge set are persisted as
    // ingest partitions alongside shingles/bands: they are what lets
    // [[appendEdgesToClusterIndex]] stay O(batch) (edges accumulate
    // per ingest; labels snapshot separately, folding only the edges
    // newer than the last snapshot). docs/ lands LAST — the same
    // commit-marker discipline as the append path.
    writeIngestPartition(sh, s"$path/shingles/ingest=0")
    writeIngestPartition(banded, s"$path/bands/ingest=0")
    val pairs = pin(verifyJaccard(sh,
        bandCandidates(banded, banded, self = true), threshold)
      .select("doc_a", "doc_b").persist())
    writeIngestPartition(pairs, s"$path/edges/ingest=0")
    writeIngestPartition(
      componentsAuto(pairs, docs.select(col("doc_id")))
        .repartitionByRange(col("doc_id")),
      s"$path/labels/gen=0")
    writeIngestPartition(docs.select(col("doc_id")),
      s"$path/docs/ingest=0")
    spark.catalog.refreshByPath(path)
    ClusterIndex(path, bands, rows, threshold)
  }

  /** The current (doc_id, cluster_id) labels of a persisted cluster
    * index — the latest generation snapshot. This is what every
    * policy consumer reads ([[keepBestPerClusterFrom]],
    * [[splitByClusterFrom]]); the scan is two narrow columns.
    */
  def readClusterLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    Artifacts.readMarker(spark, path, ClusterMarker)
    val all = spark.read.parquet(s"$path/labels")
    val latest = all.agg(max(col("gen"))).head().get(0)
    all.filter(col("gen") === lit(latest))
      .select("doc_id", "cluster_id")
  }

  /** Parquet write that guarantees at least one (schema-only) file
    * lands even when `df` is empty: an empty frame can plan to zero
    * output partitions (AQE), writing only _SUCCESS — and a file-less
    * directory is invisible to partition discovery, so the ingest
    * generation would silently vanish from edges/docs readers. The
    * emptiness probe is a post-write FILE listing (never a second
    * evaluation of `df`, which could partially re-materialize plans
    * over just-overwritten inputs); the patch-up appends one empty
    * part file carrying the schema.
    */
  private[ops] def writeIngestPartition(df: DataFrame,
      path: String): Unit = {
    // force the _SUCCESS marker regardless of session/cluster config
    // (object-store deployments commonly set marksuccessfuljobs=false):
    // the strict docs-commit gate REQUIRES the marker, and without it
    // every ingest would read as permanently uncommitted — snapshots
    // frozen, cross-ingest candidates silently dropped
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(path)
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.listStatus(p)
      .exists(_.getPath.getName.endsWith(".parquet"))
    if (!hasData)
      spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
        .repartition(1)
        .write.mode("append")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(path)
  }

  /** Max generation/ingest id under `dir` from the PARTITION DIRECTORY
    * names (`prefix=N`), 0 when none — a filesystem listing, not a
    * Spark job: these maxima gate every streaming micro-batch, and two
    * scan+aggregate jobs per batch were the dominant fixed cost of the
    * O(batch) append path. Directory names are also the more faithful
    * source — an EMPTY base build writes schema-only parquet where a
    * row-level max() is NULL. Only COMMITTED partitions count: Spark's
    * output committer creates the directory at job setup, so a crashed
    * write leaves a phantom dir holding only `_temporary` — treating it
    * as a published generation would make a snapshot retry no-op
    * forever and later snapshots read empty "old labels", silently
    * dropping prior connectivity. Committed = contains `_SUCCESS` or a
    * visible data file.
    */
  private def maxPartitionId(spark: org.apache.spark.sql.SparkSession,
      dir: String, prefix: String,
      requireSuccess: Boolean = false): Long =
    committedPartitionIds(spark, dir, prefix, requireSuccess)
      .foldLeft(0L)(math.max)

  /** The ids of COMMITTED partitions under `dir` (see
    * [[maxPartitionId]] for why commit state matters). The full SET,
    * not just the max: a crashed append can leave committed
    * shingle/band/edge partitions for an ingest whose docs commit
    * marker never landed — such an ingest must be invisible to
    * candidate generation and snapshot folds even after LATER appends
    * commit past it, or real docs get labeled against phantom
    * endpoints outside the node universe.
    *
    * `requireSuccess` tightens "committed" to "contains `_SUCCESS`"
    * — mandatory for the docs/ COMMIT-MARKER dirs: with the v2 file
    * output committer a crashed job can leave VISIBLE partial data
    * files, so a visible-file heuristic would let a half-written docs
    * partition pass the commit gate and an out-of-band snapshot fold
    * an incomplete append. [[writeIngestPartition]] force-sets
    * `marksuccessfuljobs=true` per write (a session or cluster-wide
    * disable — common on object stores — must not starve the gate),
    * so the strict check costs nothing on the happy path. The
    * weaker visible-data-file fallback remains for non-marker dirs
    * (labels/shingles/bands/edges), whose visibility is already gated
    * by the docs marker.
    */
  private def committedPartitionIds(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, prefix: String,
      requireSuccess: Boolean = false): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .filter { st =>
        st.getPath.getName.startsWith(prefix) &&
          fs.listStatus(st.getPath).exists { f =>
            val n = f.getPath.getName
            n == "_SUCCESS" ||
              (!requireSuccess && !(n.startsWith("_") || n.startsWith(".")))
          }
      }
      .map(_.getPath.getName.stripPrefix(prefix).toLong)
      .toSeq
  }

  /** Append a micro-batch's verified EDGES to a persisted cluster
    * index WITHOUT publishing labels — the O(batch) half of
    * incremental clustering, and the shape a continuous 100 TB ingest
    * needs: per batch this does map-only shingle+band of the NEW docs,
    * a (new × all) band join against the persisted band table, exact
    * verify on candidate docs' persisted shingle sets, and four
    * ingest-partitioned writes (docs, shingles, bands, edges) — every
    * cost term scales with the batch (plus its band matches), never
    * with the corpus's accumulated duplicate mass. Label publication
    * is a SEPARATE, amortizable step: [[snapshotClusterLabels]].
    *
    * Replaying an ingestId OVERWRITES its own partitions with the
    * same rows (same contract as [[SimilarityOps.appendToIvfPqIndex]])
    * — idempotent for deterministic batches.
    */
  def appendEdgesToClusterIndex(index: ClusterIndex, newDocs: DataFrame,
      ingestId: Long): Unit = graft.olap.Pins.scoped {
    // Pins.scoped (opt r20): this runs on the streaming micro-batch
    // thread, where no query-boundary scope is open — unscoped, every
    // pin() below would fall to the global registry and hold its cache
    // entry long past the batch. Every consumer of the pinned frames
    // executes inside this body (the concurrent table writes are
    // awaited), so the frames are released at the end of the batch.
    require(ingestId > 0, "ingest id 0 is the base build")
    val spark = newDocs.sparkSession
    // validate the target BEFORE any write: the path must be a real
    // cluster index (marker present — a typo'd path must not receive
    // shingle/band directories) built with THESE banding params (a
    // mismatched handle would band new docs differently, silently
    // missing cross-ingest candidates and breaking append==rebuild)
    val persisted = Artifacts.readMarker(spark, index.path, ClusterMarker)
    requireNoCompactInFlight(spark, index.path)
    val expected =
      clusterMarkerJson(index.bands, index.rows, index.threshold)
    require(persisted == expected,
      s"cluster index at ${index.path} was built with $persisted, but " +
        s"this handle carries $expected — append must band new docs " +
        "identically to the persisted corpus; rebuild instead")
    // label snapshots are generation-monotone and readers see only the
    // MAX generation: a first-time append with an id at or below an
    // already-published snapshot would persist its partitions but its
    // docs could never surface to any label reader — reject it loudly.
    // Equality with the max INGEST stays allowed: an exact replay
    // overwrites its own partitions and converges (the documented
    // exactly-once contract).
    val maxGen = maxPartitionId(spark, s"${index.path}/labels", "gen=")
    val maxIngest = maxPartitionId(spark, s"${index.path}/docs",
      "ingest=", requireSuccess = true)
    require(ingestId >= maxGen && ingestId >= maxIngest,
      s"ingest id $ingestId is not monotone (labels at gen $maxGen, " +
        s"ingests up to $maxIngest) at ${index.path}: its docs would " +
        "be invisible to readClusterLabels (which reads only the " +
        "latest snapshot). Use a monotonically increasing ingest id")
    // the monotone guard ADMITS ingestId == maxIngest (deterministic
    // replays must converge), but a DIFFERENT batch reusing the id
    // would silently overwrite that generation's partitions while
    // already-published labels still embed the old edges. Each
    // committed append persists a cheap order-insensitive batch
    // fingerprint (row count + XOR of doc_id hashes) beside its docs
    // commit marker; an equal-id append must match it or fail loudly
    // BEFORE any partition is touched. One batch-sized agg job per
    // append — O(batch), like everything else on this path. A missing
    // fingerprint (crash between the docs write and the fingerprint
    // write, or a pre-fingerprint index) degrades to the replay-
    // trusting behavior rather than bricking the index.
    val fresh = batchFingerprint(newDocs)
    if (ingestId == maxIngest && maxIngest > 0)
      Artifacts.readSmallFileOpt(spark,
          s"${index.path}/docs/ingest=$ingestId/$FingerprintFile")
        .foreach { persisted =>
          require(persisted == fresh,
            s"ingest id $ingestId already committed at ${index.path} " +
              s"with fingerprint $persisted, but this batch computes " +
              s"$fresh — equal-id appends are only legal for exact " +
              "replays; a different batch must take a fresh id")
        }
    val shNew = pin(shingled(newDocs).persist())
    val bNew = pin(bandTable(shNew, index.bands, index.rows).persist())
    // fill BOTH caches with ONE job before the concurrent table writes
    // below (bNew scans shNew, so its count materializes both): lazy
    // scoped pins would leave the three parallel writes racing to fill
    // the entries under BlockManager locks (measured +0.7 s on
    // q_stream_clusters), while the old global-registry pins paid two
    // eager counts for the same warmth
    bNew.count()
    // candidates draw only from COMMITTED prior ingests plus this
    // batch's IN-MEMORY frames: a crashed earlier append may have
    // landed shingle/band partitions whose docs never committed —
    // banding against them would emit edges to phantom endpoints that
    // no snapshot node universe will ever contain. Taking this
    // ingest's own side from the cached shNew/bNew (identical rows to
    // the partitions being written) rather than re-reading the fresh
    // write keeps a catalog refresh + tiny-file re-read off the
    // per-batch hot path — and it breaks the write→read dependency,
    // so the three table writes below are independent
    val prior = committedPartitionIds(spark,
        s"${index.path}/docs", "ingest=",
        requireSuccess = true).filter(_ != ingestId)
    val allBands = spark.read.parquet(s"${index.path}/bands")
      .filter(col("ingest").cast("long").isin(prior: _*))
      .select(bNew.columns.map(col).toSeq: _*)
      .unionByName(bNew)
    val cand = bandCandidates(bNew, allBands, self = false)
    val shAll = spark.read.parquet(s"${index.path}/shingles")
      .filter(col("ingest").cast("long").isin(prior: _*))
      .select("doc_id", "shingles")
      .unionByName(shNew.select("doc_id", "shingles"))
    // the three non-marker writes run CONCURRENTLY (independent
    // tables, per-write committer options, no session mutation; the
    // cached shNew/bNew fill under BlockManager locks, so concurrent
    // consumers are safe). Any failure rethrows before docs — the
    // commit marker — can land, so the crashed-append recovery story
    // is unchanged: partial tables without a docs marker are invisible
    val writes = Seq(
      shNew -> s"${index.path}/shingles/ingest=$ingestId",
      bNew -> s"${index.path}/bands/ingest=$ingestId",
      (verifyJaccard(shAll, cand, index.threshold)
        .select("doc_a", "doc_b")) ->
        s"${index.path}/edges/ingest=$ingestId"
    ).map { case (df, p) =>
      scala.concurrent.Future(writeIngestPartition(df, p))(writeEc)
    }
    writes.foreach(scala.concurrent.Await.result(_,
      scala.concurrent.duration.Duration.Inf))
    // docs lands LAST — it is the append's COMMIT marker. Snapshots
    // derive their target generation from docs/, so an append that
    // died before its edge write can never be folded into a snapshot
    // (which would permanently skip those edges: the fold filter is
    // ingest > lastGen); the retried append overwrites everything and
    // only then publishes the ingest.
    writeIngestPartition(newDocs.select(col("doc_id")),
      s"${index.path}/docs/ingest=$ingestId")
    // fingerprint lands AFTER the docs commit marker, ATOMICALLY: a
    // crash in the gap leaves a committed, fingerprint-less ingest
    // whose replay is admitted (and re-lands the fingerprint) —
    // fail-open on replay, fail-closed on a conflicting batch. The
    // rename guarantees the guard never reads truncated bytes, which
    // would refuse the legitimate replay forever.
    Artifacts.writeSmallFileAtomic(spark,
      s"${index.path}/docs/ingest=$ingestId/$FingerprintFile", fresh)
    spark.catalog.refreshByPath(index.path)
  }

  /** `_graft_fingerprint` beside each docs commit marker: see the
    * equal-id guard in [[appendEdgesToClusterIndex]].
    */
  private val FingerprintFile = "_graft_fingerprint"

  /** Daemon pool for the concurrent per-ingest table writes — a
    * cached pool (threads die when idle) shared across appends, so a
    * long streaming session holds at most the per-batch peak of three
    * driver threads, not three per batch.
    */
  private lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "graft-index-write")
        t.setDaemon(true)
        t
      })

  /** Mutating index ops must not interleave with a compaction whose
    * swap may be incomplete (folded partitions partially deleted):
    * a leftover staging dir means "complete the compaction first".
    */
  private def requireNoCompactInFlight(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Artifacts.requireNoCompactInFlight(spark, path,
      "compactClusterIndex")

  /** Order-insensitive batch identity: row count + XOR of doc_id
    * hashes. One agg job over the batch.
    */
  private def batchFingerprint(docs: DataFrame): String = {
    val r = docs.agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_id))")).head()
    s"n=${r.getLong(0)};h=${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Publish the next label-snapshot generation from edges appended
    * since the last one — CORRECT incremental connected components,
    * not an approximation: components run over (last snapshot's label
    * edges ∪ edges with ingest > last gen), whose node set is (last
    * snapshot's docs ∪ docs ingested since) — the old labels carry
    * exactly the old connectivity, so the result equals a full rebuild
    * on the union corpus (spec-pinned). Cost scales with the labels
    * plus the edges SINCE the last snapshot (both ingest reads are
    * partition-pruned), and because it is decoupled from
    * [[appendEdgesToClusterIndex]] it can amortize over any number of
    * batches (every N, or lazily before a read). Idempotent: with no
    * new ingests it is a no-op, and a replay overwrites its own
    * generation with identical labels. Appends are single-writer per
    * index (the streaming foreachBatch contract); a snapshot racing an
    * in-flight append is safe — the target derives from the docs
    * commit marker and the edge fold is bounded at it, so partial
    * appends are never folded early. Returns the published (or
    * current) generation.
    */
  def snapshotClusterLabels(spark: org.apache.spark.sql.SparkSession,
      index: ClusterIndex): Long = {
    Artifacts.readMarker(spark, index.path, ClusterMarker)
    requireNoCompactInFlight(spark, index.path)
    val lastGen = maxPartitionId(spark, s"${index.path}/labels", "gen=")
    val committed = committedPartitionIds(spark,
      s"${index.path}/docs", "ingest=", requireSuccess = true)
    val target = committed.foldLeft(0L)(math.max)
    if (target <= lastGen) return lastGen
    // Pins.scoped (opt r20, same rationale as appendEdgesToClusterIndex):
    // the labels write below consumes every CC pin before the scope
    // exits, so they are released at the end of the batch instead of
    // lingering in the global registry of the micro-batch thread.
    graft.olap.Pins.scoped {
    val old = spark.read.parquet(s"${index.path}/labels")
      .filter(col("gen").cast("long") === lastGen)
      .select("doc_id", "cluster_id")
    val oldEdges = old.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // fold exactly the COMMITTED ingests since the last snapshot — an
    // in-flight append (edges landed, docs marker not yet) or a
    // crashed one (docs marker never lands, even though later appends
    // commit past it) must not contribute edges: their endpoints are
    // outside the node universe, and a phantom doc_id could otherwise
    // become a published cluster_id
    val pending = committed.filter(_ > lastGen)
    val newEdges = spark.read.parquet(s"${index.path}/edges")
      .filter(col("ingest").cast("long").isin(pending: _*))
      .select("doc_a", "doc_b")
    val nodes = old.select(col("doc_id"))
      .union(spark.read.parquet(s"${index.path}/docs")
        .filter(col("ingest").cast("long").isin(pending: _*))
        .select("doc_id"))
      .distinct()
    writeIngestPartition(
      componentsAuto(newEdges.union(oldEdges), nodes)
        .repartitionByRange(col("doc_id")),
      s"${index.path}/labels/gen=$target")
    spark.catalog.refreshByPath(index.path)
    target
    }
  }

  /** Incrementally append `newDocs` AND publish labels in one step —
    * [[appendEdgesToClusterIndex]] followed by an immediate
    * [[snapshotClusterLabels]]. The convenient batch-append surface;
    * continuous streaming ingest should append edges per batch and
    * snapshot periodically instead (see
    * [[graft.streaming.StreamingCube.clusterIndexIngest]]).
    */
  def appendToClusterIndex(index: ClusterIndex, newDocs: DataFrame,
      ingestId: Long): Unit = {
    appendEdgesToClusterIndex(index, newDocs, ingestId)
    snapshotClusterLabels(newDocs.sparkSession, index)
  }


  /** Fold every ingest partition at or below the last published label
    * generation into ONE base partition per table, and prune stale
    * label generations — the housekeeping a continuous ingest needs:
    * at production cadence (100k+ micro-batches) the per-ingest layout
    * accumulates 4 tiny directories per batch plus one label dir per
    * snapshot, and the generation-gating FS listings plus
    * file-open overhead grow linearly with history. After compaction
    * the listing surface is O(ingests since the last snapshot), and
    * the index is SEMANTICALLY IDENTICAL: same shingles/bands (future
    * appends band against the same rows), same edges, same docs
    * universe, same latest labels (spec-pinned append==rebuild across
    * a compaction).
    *
    * Crash-safe stage-and-swap, resumable by re-running:
    *  1. STAGE the folded tables under `_compact/` (invisible to
    *     readers) and land a `_DONE` plan marker last;
    *  2. SWAP per table: delete that table's folded partitions, then
    *     rename the staged dir to `ingest=<target>` — a retry after a
    *     crash anywhere resumes exactly where it died (per-table: the
    *     staged dir still existing means that table hasn't swapped);
    *  3. prune label generations below the latest, refresh, clean up.
    * A crash mid-stage restages from the untouched originals; a crash
    * mid-swap leaves `_compact/` present, which [[appendEdgesToClusterIndex]]
    * and [[snapshotClusterLabels]] REFUSE to operate past — the
    * operator must re-run compaction (which completes the swap) first.
    *
    * Contract: single-writer maintenance, and only compact past
    * ingests that can no longer be replayed (the compacted base's
    * fingerprint intentionally refuses an equal-id replay of the old
    * tail batch — its docs are already folded in). Callers running
    * inside a replayable scope (a streaming foreachBatch) enforce
    * that line with `maxFold`: pass the current ingestId - 1, so the
    * batch's own ingest — the only one its checkpoint can ever
    * replay — is never folded (see
    * [[graft.streaming.StreamingCube.clusterIndexIngest]]).
    *
    * Returns (ingest partitions folded, label generations pruned).
    */
  def compactClusterIndex(spark: org.apache.spark.sql.SparkSession,
      index: ClusterIndex, maxFold: Long = Long.MaxValue): (Int, Int) = {
    Artifacts.readMarker(spark, index.path, ClusterMarker)
    val fs = new org.apache.hadoop.fs.Path(index.path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tables = Seq("shingles", "bands", "edges", "docs")
    def parse(pl: String): (Long, Seq[Long]) = {
      val m = pl.split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      (m("target").toLong,
        m("fold").split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
    }
    val executed = Artifacts.stageAndSwap(spark, index.path,
      planOf = () => {
        // `maxFold` bounds the fold BELOW the "can no longer be
        // replayed" line for callers inside a replayable scope: a
        // streaming batch must pass its own ingestId - 1, because its
        // snapshot may have published a generation covering its own
        // ingest before the checkpoint commit crashed — folding that
        // ingest would make the replay hit the compacted base's
        // fingerprint refusal forever. The target partition id is the
        // max FOLDED ingest (== the label gen when unbounded).
        val g = maxPartitionId(spark, s"${index.path}/labels", "gen=")
        val fold = committedPartitionIds(spark, s"${index.path}/docs",
          "ingest=", requireSuccess = true)
          .filter(i => i <= g && i <= maxFold).sorted
        if (fold.size > 1) Some(s"target=${fold.max};fold=${fold.mkString(",")}")
        else None
      },
      stage = (pl, tmp) => {
        // one read over exactly the folded partitions per table
        // (partition-pruned), written invisible. The partition column
        // must not leak into the staged files.
        val (_, fold) = parse(pl)
        tables.foreach { t =>
          writeIngestPartition(
            spark.read.parquet(s"${index.path}/$t")
              .filter(col("ingest").cast("long").isin(fold: _*))
              .drop("ingest"),
            s"$tmp/$t")
        }
      },
      swaps = pl => {
        // per table: folded partitions go away, the staged dir takes
        // the target id (the staged dir still existing is the
        // per-table resume signal)
        val (target, fold) = parse(pl)
        tables.map(t => (t,
          fold.map(d => s"${index.path}/$t/ingest=$d"),
          s"${index.path}/$t/ingest=$target"))
      },
      afterSwap = pl => {
        // the compacted base represents the UNION batch: land its
        // fingerprint so an equal-id replay of the old tail batch is
        // refused (its docs are already folded in)
        val (target, _) = parse(pl)
        Artifacts.writeSmallFileAtomic(spark,
          s"${index.path}/docs/ingest=$target/$FingerprintFile",
          batchFingerprint(
            spark.read.parquet(s"${index.path}/docs/ingest=$target")))
      })
    val target = executed.map(parse(_)._1).getOrElse(
      maxPartitionId(spark, s"${index.path}/labels", "gen="))
    // stale label generations: readers only ever take the max, so
    // pruning older gens is invisible and crash-safe at any point
    val stale = committedPartitionIds(spark,
      s"${index.path}/labels", "gen=").filter(_ < target)
    stale.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${index.path}/labels/gen=$g"), true)
    }
    spark.catalog.refreshByPath(index.path)
    (executed.map(parse(_)._2.size).getOrElse(0), stale.size)
  }

  /** Train/eval DECONTAMINATION: near-dup document pairs ACROSS two
    * corpora — the pretraining-hygiene primitive ("is any eval
    * document a near-dup of a training document?"). Candidate
    * generation is the same banded MinHash as [[minhashLsh]], but the
    * band join runs BETWEEN the corpora, so pair work is
    * Σ |train-bucket| × |eval-bucket| per band key — never the
    * train × eval cross product, and the (typically tiny) eval side's
    * banded frame shuffles on the band key like any join side.
    * Candidates are exact-Jaccard-verified on the shingle arrays.
    * Returns (train_id, eval_id, jaccard).
    */
  def crossContamination(train: DataFrame, eval0: DataFrame,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    val (shT, bandedT) = shingleBands(train, bands, rows)
    val (shE, bandedE) = shingleBands(eval0, bands, rows)
    val cand = bandedT.as("a")
      .join(bandedE.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig"))
      .select(col("a.doc_id").as("train_id"),
        col("b.doc_id").as("eval_id"))
      .distinct()
    cand
      .join(shT.select(col("doc_id").as("train_id"),
        col("shingles").as("sh_a")), "train_id")
      .join(shE.select(col("doc_id").as("eval_id"),
        col("shingles").as("sh_b")), "eval_id")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("train_id", "eval_id", "jaccard")
  }

  /** Distributed Bloom build over the text fingerprints — the partial
    * filters OR-merge (order-independent), and the collected binary is
    * a MODEL (numBits/8 bytes), not data.
    */
  def buildBloom(eval0: DataFrame, estItems: Long,
      numBits: Long): Array[Byte] = {
    graft.functions.SketchFns.register(eval0.sparkSession)
    eval0.select(expr("xxhash64(text)").as("h"))
      .agg(expr(s"bloom_agg(h, ${estItems}L, ${numBits}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Map-only membership flag against a built filter — a pure codegen'd
    * projection, so it applies unchanged to STREAMING frames (the
    * streaming decontamination gate; StreamingSpec asserts parity).
    */
  def bloomProbe(df: DataFrame, bf: Array[Byte],
      flag: String = "__maybe"): DataFrame = {
    graft.functions.SketchFns.register(df.sparkSession)
    df.withColumn(flag,
      call_function("bloom_contains", lit(bf), expr("xxhash64(text)")))
  }

  /** Exact-text decontamination with a Bloom-filter prefilter: remove
    * every train document whose text appears verbatim in the eval set,
    * returning the surviving (doc_id, source) rows.
    *
    * Scale design: a plain anti-join would shuffle the ENTIRE train
    * corpus on the fingerprint key (the eval side is too large to pin
    * as an exact broadcast set at real eval-suite sizes, and the train
    * side never broadcasts by definition). The Bloom filter summarizes
    * the eval fingerprints in numBits/8 bytes — a few MB for tens of
    * millions of items — and is built DISTRIBUTED (`bloom_agg` partial
    * filters OR-merge, order-independent) then collected once as a
    * model. Membership is then a map-only codegen'd probe: the
    * bloom-negative rows (the overwhelming majority — fpr of the
    * misses) pass through with NO shuffle, and only the bloom-positive
    * sliver is exactly verified with an anti-join on the text itself.
    * False positives cannot drop a clean row (the verify join is
    * exact) and Bloom filters have no false negatives, so the result
    * equals the plain anti-join bit-for-bit at any fpr.
    */
  def decontaminateBloom(train: DataFrame, eval0: DataFrame,
      estItems: Long = 100000L, numBits: Long = 800000L): DataFrame = {
    val bf = buildBloom(eval0, estItems, numBits)
    if (bf == null) return train.select(col("doc_id"), col("source"))
    val flagged = bloomProbe(train, bf)
    val negatives = flagged.filter(!col("__maybe"))
      .select(col("doc_id"), col("source"))
    // shuffle_hash: the verify join partitions both (small) sides — at
    // eval-suite scale neither needs to fit on one executor
    val positives = flagged.filter(col("__maybe"))
      .join(eval0.select(col("text")).distinct().hint("shuffle_hash"),
        Seq("text"), "left_anti")
      .select(col("doc_id"), col("source"))
    // two branches = two passes over the train scan; at corpus scale
    // the map-only rescan is the cheap half, and the shuffle — the
    // expensive half — carries only the bloom-positive sliver
    negatives.union(positives)
  }

  /** Cross-document duplicated-SPAN statistics — the substring-level
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): a document whose w-token spans
    * also appear in OTHER documents carries boilerplate even when no
    * whole-document near-dup fires. Returns per document the total
    * span count, the count of spans shared with at least one other
    * document, and the duplicated fraction.
    *
    * Scale design: one rolling-window projection hashes every span
    * (md5 once per span, map-only), then ONE groupBy on the span hash
    * whose aggregate is min/max doc_id — cross-document iff min < max,
    * so there is no countDistinct (no second shuffle, and the partial
    * min/max combine map-side even for a boilerplate span shared by
    * millions of documents). The flag joins back colocated on the same
    * hash key and the per-doc rollup partitions by doc_id. A span's
    * posting fan-out is 1:1 (each occurrence joins exactly one flag
    * row), so a viral span costs its occurrence count, never df².
    */
  def dupSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    // two consumers (flags aggregate + the flag join) — persist, or the
    // tokenize + per-span md5 explode (the dominant map cost) runs twice
    val spans = pin(spanFrame(docs, w).select("doc_id", "sh").persist())
    val flags = spans.groupBy("sh")
      .agg((min("doc_id") < max("doc_id")).as("dup"))
    spans.join(flags, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("dup").cast("long")).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans"))
  }

  /** Per-span-hash index: keeper (min doc_id), occurrence count, and
    * the cross-document flag — the state table of the streaming span
    * gate and the flag aggregate [[dupSpans]]/[[removeDupSpans]] build
    * on. min/count are order-independent, so a complete-mode stream
    * over arriving documents reproduces the batch index row-for-row.
    */
  def spanIndexOf(spans: DataFrame): DataFrame =
    spans.groupBy("sh")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_occ"),
        (min("doc_id") < max("doc_id")).as("cross_doc"))

  /** Indexed w-token span hashes (doc_id, i, sh) with 1-based start
    * positions — the ONE copy of the span lowering shared by the
    * measurement ([[dupSpans]]) and rewrite ([[removeDupSpans]])
    * halves, so the fraction the former reports is always computed
    * over exactly the windows the latter considers. The `Raw` form
    * skips the batch fan-out guard (streaming micro-batches spread
    * themselves — a streaming frame has no optimizedPlan stats).
    */
  def spanFrameRaw(docs: DataFrame, w: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), expr(TOKENS).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(t) - ${w - 1}),
           |  i -> ${h60(s"concat_ws(' ', slice(t, i, $w))")})"""
          .stripMargin)).as(Seq("i0", "sh")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("sh"))

  private def spanFrame(docs: DataFrame, w: Int): DataFrame =
    spanFrameRaw(rebalanced(docs), w)

  /** The duplicated-span REMOVAL transform (the rewrite half of Lee et
    * al. 2022, where [[dupSpans]] is the measurement half): a w-token
    * span occurring in more than one document keeps its occurrences in
    * the LOWEST doc_id and is cut everywhere else — one copy of the
    * duplicated content survives (the remove-all-but-one contract;
    * cutting every occurrence would erase twice-written legitimate
    * text from the corpus entirely) — and the survivors re-join into
    * the cleaned (whitespace-normalized, lowercased) text. Per
    * document the cut set is the union of [i, i+w) windows over its
    * non-keeper span starts — membership is evaluated against the
    * per-doc start list, so the rebuild is one interpreted per-doc
    * pass like the shingle expressions, never per-pair work.
    *
    * Scale shape = [[dupSpans]] (span-hash aggregate with min/max
    * cross-doc flag, 1:1 flag join) plus ONE per-doc collect of its
    * cut starts — bounded by the doc's own span count — and a
    * broadcast-free left join back to a map-only re-tokenization of
    * the corpus (re-deriving tokens is the cheap half; pinning the
    * tokenized corpus would evict load-bearing persists).
    */
  def removeDupSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    // two consumers (flag aggregate + the cut join)
    val spans = pin(spanFrame(docs, w).persist())
    val flags = spans.groupBy("sh")
      .agg(min("doc_id").as("keeper"),
        (min("doc_id") < max("doc_id")).as("dup"))
    val cutStarts = spans.join(flags, "sh")
      .filter(col("dup") && col("doc_id") > col("keeper"))
      .groupBy("doc_id")
      .agg(collect_list(col("i")).as("starts"))
    docs.select(col("doc_id"), expr(TOKENS).as("t"))
      .join(cutStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        s"""concat_ws(' ', filter(t, (tok, j0) ->
           |  size(filter(coalesce(starts, array_repeat(1, 0)),
           |    s -> s <= j0 + 1 and j0 + 1 <= s + ${w - 1})) = 0))"""
          .stripMargin).as("clean_text"))
  }

  /** Per-eval-document n-gram overlap FRACTION against the training
    * corpus — the memorization/coverage metric (the n-gram-level
    * refinement of [[crossContamination]]'s doc-level hits): of an
    * eval doc's distinct `w`-gram hashes, what share occurs anywhere
    * in train? Doc-level decontamination reports "contaminated or
    * not"; this reports HOW MUCH of each eval doc the model could have
    * seen verbatim — the figure eval-integrity reports quote.
    *
    * Shape: both sides lower to the shared [[spanFrameRaw]] hash
    * pipeline (map-only); train collapses to its distinct span set
    * (combining aggregate, shuffle carries distinct hashes); the probe
    * is a span-keyed left join — `shuffle_hash` pinned because the
    * train span set is corpus-sized (never broadcastable) — and one
    * per-doc combining aggregate. No per-pair work anywhere.
    */
  def evalNgramOverlap(train: DataFrame, eval0: DataFrame,
      w: Int = 8, bloomBits: Long = 0L): DataFrame = {
    graft.functions.SketchFns.register(train.sparkSession)
    val evalSpans = pin(spanFrameRaw(eval0, w)
      .select(col("doc_id"), col("sh")).distinct().persist())
    // Bloom prefilter of the TRAIN span stream against the eval span
    // hashes (opt r19, guide §3.2): only train spans that also occur
    // in the eval side can ever flag a hit, so the train-side
    // distinct + join exchange — the corpus-sized cost of this op —
    // need only carry bloom-positive spans. A false positive merely
    // survives to the equi-join and matches nothing: the result is
    // EXACT at any fp rate, a saturated filter just degrades to the
    // old full shuffle. The filter is built over the (small, probe-
    // sized) eval side — never the train corpus.
    //
    // Opt r20 (VERDICT r19 "what's wrong" #2): the r19 build collected
    // the filter with .head() — a BLOCKING driver job before the main
    // query — and inlined it as a multi-MB hex literal serialized with
    // every stage. The filter argument is now a SCALAR SUBQUERY
    // (BloomFilterMightContain accepts one — it is exactly how Spark's
    // own runtime-filter injection wires it): no driver round trip in
    // this code, no giant literal in the plan, and the build pipelines
    // inside the one query execution. bloomBits also auto-sizes from
    // the eval side's plan-stats byte estimate instead of a fixed
    // 16 Mbit (a large eval suite would saturate a fixed filter and
    // silently degrade to the full shuffle); pass bloomBits > 0 to
    // override (the exactness spec pins a deliberately saturated 64-bit
    // filter). Sizes clamp to Spark's BloomFilterAggregate validation
    // caps (maxNumItems/maxNumBits default 4M items / 64 Mbit).
    val bits = if (bloomBits > 0) bloomBits else {
      val estBytes = eval0.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      // ~6 bytes/token => spans ~ bytes/6; 16 bits/span ~ 0.05% fp.
      // BigInt math until the clamp — a stats-less leaf reports 8 EB.
      val estSpans = estBytes / 6
      (BigInt(1L << 24).max(estSpans * 16)).min(BigInt(1L << 26)).toLong
    }
    val estItems = math.max(1L << 20, math.min(4000000L, bits / 16))
    val bf = evalSpans
      .agg(expr(s"bloom_agg(sh, ${estItems}L, ${bits}L)"))
      .scalar()
    val trainSpans = spanFrameRaw(train, w)
      .filter(call_function("bloom_contains", bf, col("sh")))
      .select("sh").distinct()
      .withColumn("hit", lit(1L))
    val agg = evalSpans
      .join(trainSpans.hint("shuffle_hash"), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    // EVERY eval doc reports: documents shorter than w tokens have no
    // spans and used to vanish from the output, silently biasing any
    // downstream denominator ("fraction of eval docs with overlap
    // >= x" counted only the spanned docs). They surface with zero
    // grams and a NULL fraction. The raw IEEE division is
    // bit-identical across engines from the same integer counts;
    // comparison-boundary float normalization (the 9-dp convention)
    // lives in Verify, not in the operator.
    eval0.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams")))
  }

  /** 60-bit SimHash over the token multiset: per bit position, tokens
    * vote +1/-1 by their hash bit; the signature sets bits with
    * positive vote.
    *
    * Lowered as explode → one md5 per token → ONE wide codegen'd
    * aggregate (60 conditional sums) — no interpreted higher-order
    * functions in the per-token path, so this streams map-side at any
    * corpus size with a single shuffle on doc_id.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = rebalanced(docs).select(col("doc_id"),
      explode(expr(TOKENS)).as("tok"))
    val hashed = toks.withColumn("h", expr(h60("tok")))
    val votes = (0 until 60).map(p =>
      sum(expr(s"shiftright(h, $p) % 2 * 2 - 1")).as(s"v$p"))
    val agg = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 60)
      .map(p => expr(s"if(v$p > 0, ${1L << p}L, 0L)"))
      .reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance <= maxDist. Candidate
    * generation via band partitioning of the 60-bit signature into
    * `maxDist + 1` bands — pigeonhole: with at most maxDist differing
    * bits, at least one band is identical on both sides — then exact
    * hamming verify on the integer signatures. The band count is
    * DERIVED from the requested radius (maxDist=3 → the classic
    * 4 × 15-bit layout; 60 % bands spare bits widen the leading
    * bands), so recall is complete at every radius 0..59 instead of
    * refusing past 3; the cost of a wider radius is honest and
    * visible — narrower bands mean bigger collision buckets, so
    * candidate-pair work grows with maxDist.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 60,
      s"maxDist=$maxDist outside [0, 59]: the signature is 60 bits, " +
        "so 60 bands of one bit is the widest complete-recall layout")
    val bands = maxDist + 1
    val base = 60 / bands
    val extra = 60 % bands
    val widths = (0 until bands).map(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val sigs = pin(simhash(docs).persist())
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(i =>
        expr(s"shiftright(simhash, ${offsets(i)}) % ${1L << widths(i)}L")
      ): _*)).as(Seq("band_idx", "band_val")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr(
        "cast(bit_count(sig_a ^ sig_b) as int)"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Cosine of two float-vector columns, accumulated in double so the
    * result is engine-portable. Interpreted (higher-order) — use only
    * in per-document/per-probe positions, never per-pair.
    */
  def cosineExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) ->
       |    cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)
       |/ (sqrt(aggregate($a, 0D, (acc, x) ->
       |     acc + cast(x as double) * cast(x as double)))
       |   * sqrt(aggregate($b, 0D, (acc, x) ->
       |     acc + cast(x as double) * cast(x as double))))""".stripMargin

  /** L2-normalized double-array column (vec_id, u). The norm folds
    * e_i² in index order via the native [[graft.functions.VectorExprs]]
    * dot_f64 loop, and each component divides by that norm — the same
    * arithmetic (and bit pattern) as the flat u1..u64 columns this
    * replaces, but with CONSTANT generated-code size: the flat
    * formulation inlined the 64-term norm into each of 64 projected
    * columns, and the fused projection overflowed Janino's 64 KB method
    * limit mid-bench (BENCH_r05; reproduced r6), silently degrading the
    * whole ANN family to interpreted execution. Per-pair scoring is
    * `dot_f64(a.u, b.u)` — a tight generated loop.
    * Persisted: one normalize pass per vector, never per pair.
    */
  def unitArr(emb: DataFrame, dim: Int): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    // the norm is a SIBLING column, not inlined into the transform
    // lambda: ArrayTransform is interpreted and re-evaluates the lambda
    // body per element, so an inlined norm would cost O(dim²) per
    // vector; same division, same bit pattern
    emb.select(col("vec_id"),
        expr(s"slice(transform(embedding, x -> cast(x as double)), 1, $dim)")
          .as("__e"))
      .select(col("vec_id"), col("__e"),
        expr("sqrt(dot_f64(__e, __e))").as("__n"))
      .select(col("vec_id"),
        expr("transform(__e, x -> x / __n)").as("u"))
      .persist()
      .transform(pin)
  }

  /** Embedding near-dup pairs: cosine >= threshold.
    *
    * Brute-force baseline: normalize once per vector, then all-pairs
    * codegen'd dot products over a broadcast right side. The scale path
    * is `SimilarityOps.ivfTopK`-style coarse quantization or
    * `SimilarityOps.lshBuckets` random-hyperplane bucketing, which cut
    * the candidate set the same way MinHash bands do for text.
    */
  def embeddingPairs(emb: DataFrame, threshold: Double,
      dim: Int = 64): DataFrame = {
    val e = unitArr(emb.select(col("vec_id"), col("embedding")), dim)
    e.as("a").join(broadcast(e.as("b")),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr("dot_f64(a.u, b.u)").as("cos"))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b")
  }

  /** Embedding near-dup pairs AT SCALE: banded random-hyperplane LSH
    * candidate generation + exact cosine verify — the scale path whose
    * absence made [[embeddingPairs]] a labeled baseline.
    *
    * Banding mirrors [[simhashPairs]]: the nBits = bands × bitsPerBand
    * sign bits from [[SimilarityOps.lshBuckets]] split into `bands`
    * sub-keys; vectors sharing ANY band key become candidates, so pair
    * work is Σ |bucket|² per band key, never the corpus crossJoin.
    * Recall is the LSH union bound 1 − (1 − p^r)^b for per-plane
    * collision p = 1 − θ/π (deterministic, oracle-reproducible —
    * DuckDB computes the identical md5-derived planes, band keys, and
    * verify dot products). The verify phase joins the bounded
    * candidate set against the flat unit-vector frame with shuffle
    * joins on vec_id — the corpus side is never broadcast.
    *
    * GEOMETRY MUST SCALE WITH THE CORPUS: hyperplane band keys are
    * data-independent, so per-band bucket occupancy is ~n / 2^bits and
    * Σ |bucket|² grows QUADRATICALLY in n at fixed bits — the measured
    * sf0.1→sf1 blow-up (1.5 s → 77 s at 10× vectors, BASELINE.md r11)
    * that [[embeddingPairsLshAuto]] removes by holding expected
    * occupancy constant. Fixed-geometry callers own that sizing.
    */
  def embeddingPairsLsh(emb: DataFrame, threshold: Double,
      bands: Int = 4, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val nBits = bands * bitsPerBand
    val base = emb.select(col("vec_id"), col("embedding"))
    // persisted like minhashLsh's banded frame: O(n) narrow rows, and
    // without it the self-join recomputes the wide hyperplane-sign
    // expression once per join side and once per downstream stage
    val banded = SimilarityOps.lshBuckets(base, nBits, dim)
      .select(col("vec_id"),
        posexplode(expr(
          // AND-mask, not modulus: the mask literal is a LONG
          // ((1L << 63) - 1 == Long.MaxValue covers the full 63-bit
          // envelope), where the old  % (1 << bits)  Scala-Int form
          // wrapped mod 32 and silently collapsed the band modulus
          // for bitsPerBand >= 32 (legal at bands = 1)
          s"""transform(sequence(0, ${bands - 1}), b ->
             |  shiftright(bucket, b * $bitsPerBand) &
             |    ${(1L << bitsPerBand) - 1}L)"""
            .stripMargin)).as(Seq("band_idx", "band_val")))
      .persist()
      .transform(pin)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // exact verify with the native codegen'd cosine over the compact
    // float arrays (half the row width of 64 flat doubles through the
    // two joins, and no separate normalize pass)
    graft.functions.VectorExprs.register(emb.sparkSession)
    val ea = base.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val eb = base.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    cand
      .join(ea.hint("shuffle_hash"), "vec_a")
      .join(eb.hint("shuffle_hash"), "vec_b")
      .withColumn("cos", expr("cosine_f32(emb_a, emb_b)"))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b")
  }

  /** Bits per band for ~`targetBucket` expected vectors per band
    * bucket: the smallest b >= 4 with ceil(n / targetBucket) <= 2^b.
    * Pure integer arithmetic (no float log2 whose ULP could disagree
    * with the oracle's at exact powers of two); the DuckDB twin is
    * `GREATEST(4, length(bin(q - 1)))` for q = (n + tb - 1) // tb,
    * since length(bin(x)) = ceil(log2(x + 1)) exactly.
    */
  def lshBitsPerBand(n: Long, targetBucket: Long = 64): Int = {
    val q = (n + targetBucket - 1) / targetBucket
    if (q <= 1L) 4
    else math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(q - 1))
  }

  /** [[embeddingPairsLsh]] with occupancy-constant geometry: bits per
    * band grows log2 with the corpus (one bounded count job), so
    * expected band-bucket size — and with it the Σ |bucket|² candidate
    * work — stays ~targetBucket-bounded per band at ANY corpus size
    * instead of exploding quadratically. The price is the documented
    * LSH trade: per-band collision p^bits falls as bits widen, so
    * recall at a fixed cosine concentrates on the high-similarity
    * pairs (true near-dups) as n grows; raise `bands` to buy recall
    * back at linear cost. The geometry derivation is deterministic
    * from n, so the DuckDB oracle reproduces it exactly.
    *
    * GEOMETRY CEILING: band keys pack into one Long, so bits per band
    * caps at `63 / bands` (15 at the default 4 bands — constant
    * occupancy up to n ≈ targetBucket × 2^15 ≈ 2M vectors at the
    * defaults). Past it, expected occupancy grows n / 2^cap instead
    * of staying flat; the explicit remedies are fewer/wider bands
    * (bands = 2 caps at 31 bits ≈ 137G vectors at occupancy 64, the
    * recall trade documented above) or a larger targetBucket. The cap
    * is applied here, never a silent >64-bit wrap — [[SimilarityOps
    * .lshBuckets]] refuses nBits > 63 outright.
    */
  def embeddingPairsLshAuto(emb: DataFrame, threshold: Double,
      bands: Int = 4, targetBucket: Long = 64,
      dim: Int = 64): DataFrame =
    embeddingPairsLsh(emb, threshold, bands,
      math.min(lshBitsPerBand(emb.count(), targetBucket), 63 / bands),
      dim)
}
