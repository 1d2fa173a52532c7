package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Specs for the training-data pipeline operators (DedupOps,
  * SimilarityOps, MultimodalOps, TextOps) on the sf0.001 smoke data.
  */
class PipelineOpsSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, Sf, "documents").cache()
  private lazy val emb = Tables.load(spark, Sf, "embeddings").cache()

  test("exactDedup keeps one survivor per distinct text") {
    val n = docs.count()
    val nDistinct = docs.select("text").distinct().count()
    assert(DedupOps.exactDedup(docs).count() === nDistinct)
    assert(nDistinct <= n)
  }

  test("jaccardPairs returns only pairs above threshold, a < b") {
    val pairs = DedupOps.jaccardPairs(docs, 0.5).collect()
    assert(pairs.forall(r => r.getAs[Double]("jaccard") >= 0.5))
    assert(pairs.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("minhashLsh candidates are a subset of exact jaccard pairs") {
    val exact = DedupOps.jaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(docs, 4, 2, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("jaccardPairs matches a driver-side exact computation on " +
      "random corpora, and the df cap drops only hot-overlap pairs") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    def shingleSet(t: String): Set[String] = {
      val ts = t.toLowerCase.trim.split("\\s+")
      if (ts.length < 3) Set.empty
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(1000 + trial)
      val corpus = (0L until 40L).map { id =>
        val n = 5 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val sh = corpus.map { case (id, t) => id -> shingleSet(t) }
        .filter(_._2.nonEmpty).toMap
      val expect = (for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a < b
        inter = (sa & sb).size
        if inter > 0 &&
          inter.toDouble / (sa.size + sb.size - inter) >= 0.3
      } yield (a, b)).toSet
      val got = DedupOps.jaccardPairs(df, 0.3)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, s"trial $trial")
      // tiny maxDf: every surviving pair is still exact, and every
      // DROPPED pair lost ALL its shared shingles to the df cap — the
      // collect_capped overflow path really fires on this vocabulary
      val dfCount = sh.values.toSeq.flatten
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val capped = DedupOps.jaccardPairs(df, 0.3, maxDf = 2)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.subsetOf(expect), s"trial $trial")
      (expect -- capped).foreach { case (a, b) =>
        val shared = sh(a) & sh(b)
        assert(shared.forall(s => dfCount(s) > 2),
          s"trial $trial: pair ($a,$b) dropped but has a cold shared " +
            s"shingle — cap semantics broken")
      }
    }
  }

  test("embeddingPairsLsh candidates are a subset of brute-force pairs") {
    val brute = DedupOps.embeddingPairs(emb, 0.47)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.embeddingPairsLsh(emb, 0.47)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.forall { case (a, b) => a < b })
  }

  test("lshBitsPerBand holds expected bucket occupancy constant") {
    // smallest b >= 4 with ceil(n/64) <= 2^b — exact at the
    // power-of-two boundaries where a float log2 could flip a ceil
    assert(DedupOps.lshBitsPerBand(1) == 4)
    assert(DedupOps.lshBitsPerBand(64) == 4)
    assert(DedupOps.lshBitsPerBand(1024) == 4)
    assert(DedupOps.lshBitsPerBand(1025) == 5)
    assert(DedupOps.lshBitsPerBand(2000) == 5)
    assert(DedupOps.lshBitsPerBand(2048) == 5)
    assert(DedupOps.lshBitsPerBand(2049) == 6)
    assert(DedupOps.lshBitsPerBand(20000) == 9)
    assert(DedupOps.lshBitsPerBand(1L << 40) == 34)
    // occupancy bound: ceil(n / 64) <= 2^bits < 2 * max(ceil(n/64), 8)
    for (n <- Seq(17L, 100L, 999L, 12345L, 1000000L)) {
      val bits = DedupOps.lshBitsPerBand(n)
      val q = (n + 63) / 64
      assert((1L << bits) >= q, s"n=$n")
      assert(bits == 4 || (1L << (bits - 1)) < q, s"n=$n not minimal")
    }
  }

  test("embeddingPairsLshAuto equals fixed geometry at the derived bits") {
    val n = emb.count()
    val auto = DedupOps.embeddingPairsLshAuto(emb, 0.47)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = DedupOps.embeddingPairsLsh(emb, 0.47,
        bitsPerBand = DedupOps.lshBitsPerBand(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
    // and stays a verified subset of brute force
    val brute = DedupOps.embeddingPairs(emb, 0.47)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(brute))
  }

  test("crossContamination equals whole-corpus minhash restricted to the split") {
    val evalSet = docs.filter(col("doc_id") < 250)
    val train = docs.filter(col("doc_id") >= 250)
    val cross = DedupOps.crossContamination(train, evalSet, 4, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // signatures don't depend on the split, so cross pairs must be
    // exactly the whole-corpus banded pairs straddling the boundary
    val whole = DedupOps.minhashLsh(docs, 4, 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = whole.collect {
      case (a, b) if a < 250 && b >= 250 => (b, a)
    }
    assert(cross === expected)
    // and every reported pair is a genuine >=0.5 exact-jaccard pair
    val exact = DedupOps.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.forall { case (t, e) => exact.contains((e, t)) })
  }

  test("simhash signatures are deterministic 60-bit values") {
    val a = DedupOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = DedupOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.values.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("simhashPairs finds exactly the brute-force hamming<=3 pairs") {
    val sigs = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    val banded = DedupOps.simhashPairs(docs, 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("simhashPairs derives banding from the radius: complete recall " +
      "at maxDist 0 and 6, out-of-range refused") {
    val sigs = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    for (maxDist <- Seq(0, 6)) {
      val brute = (for {
        (ida, sa) <- sigs; (idb, sb) <- sigs
        if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (ida, idb)).toSet
      val banded = DedupOps.simhashPairs(docs, maxDist)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded === brute, s"maxDist=$maxDist")
    }
    val err = intercept[IllegalArgumentException] {
      DedupOps.simhashPairs(docs, 60)
    }
    assert(err.getMessage.contains("60 bits"))
  }

  test("bruteForceTopK ranks per probe 1..k without self-matches") {
    val probes = emb.filter(col("vec_id") < 3)
    val res = SimilarityOps.bruteForceTopK(emb, probes, 5).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size === 3)
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 5))
      assert(rows.forall(_.getAs[Long]("neighbor_id") != p))
    }
  }

  test("ivfTopK searches only the routed cell") {
    val probes = emb.filter(col("vec_id") < 3)
    val res = SimilarityOps.ivfTopK(emb, probes, "label", 5)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joined = res.collect()
    // all neighbors of one probe share one label (the routed cell)
    joined.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      assert(rows.map(r => labels(r.getAs[Long]("neighbor_id"))).distinct.length === 1)
    }
  }

  test("kmeansCells trains a usable IVF codebook") {
    val cells = SimilarityOps.kmeansCells(emb, k = 8, iters = 3)
    val assign = cells.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
    assert(assign.length === emb.count())
    val sizes = assign.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.keys.forall(c => c >= 0 && c < 8))
    assert(sizes.size > 1, "k-means must produce multiple cells")
    // deterministic across runs
    val again = SimilarityOps.kmeansCells(emb, k = 8, iters = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
    assert(assign.toMap === again.toMap)
    // trained cells drive ivfTopK end to end
    val withCells = emb.join(cells, "vec_id")
    val res = SimilarityOps.ivfTopK(withCells,
      withCells.filter(col("vec_id") < 3), "cell", 5)
    assert(res.groupBy("probe_id").count().collect()
      .forall(_.getLong(1) === 5))
  }

  test("argmin/lsh codegen compiles at realistic model sizes (no fallback)") {
    // spark.sql.codegen.fallback=false turns a Janino compile failure
    // into a hard error instead of a silent interpreted fallback — the
    // BENCH_r05 failure mode. k=64 / nBits=32 are realistic model sizes
    // the old unrolled expressions could not survive.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cells = SimilarityOps.kmeansCells(emb, k = 64, iters = 2)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
      assert(cells.forall { case (_, c) => c >= 0 && c < 64 })
      assert(cells.map(_._2).distinct.length > 1)
      val buckets = SimilarityOps.lshBuckets(emb, 32).select("bucket")
        .collect().map(_.getLong(0))
      assert(buckets.forall(b => b >= 0 && b < (1L << 32)))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("lshBuckets emits deterministic bucket ids in [0, 2^12)") {
    val b1 = SimilarityOps.lshBuckets(emb, 12).select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = SimilarityOps.lshBuckets(emb, 12).select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1.values.forall(v => v >= 0 && v < 4096))
  }

  test("clean pipeline drops low-quality, duplicate and near-dup docs") {
    val all = docs.count()
    val kept = graft.ops.CleanPipeline.clean(docs)
    val keptIds = kept.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.size < all)
    // no surviving near-dup pair: every >=0.5 jaccard pair among
    // survivors would contradict the drop rule
    val pairs = DedupOps.jaccardPairs(kept, 0.5).collect()
    assert(pairs.isEmpty,
      s"near-dup pairs must not survive: ${pairs.mkString(",")}")
    // stats cover exactly the survivors
    val stats = graft.ops.CleanPipeline.cleanStats(docs)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()(0)
    assert(stats.getLong(0) === keptIds.size)
  }

  test("clean keeps exactly the min doc_id per near-dup component") {
    import org.apache.spark.sql.functions.col
    // re-derive the pre-near-dup stage, then check the survivor set
    // against an INDEPENDENT driver-side union-find over its pair graph
    val keepQ = TextOps.profile(docs)
      .filter(col("n_tokens") >= 30 && col("stop_ratio") >= 0.04)
      .select("doc_id")
    val kept1 = docs.join(keepQ, "doc_id")
    val kept2 = kept1.join(
      DedupOps.exactDedup(kept1).select("doc_id"), "doc_id")
    val kept2Ids = kept2.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = DedupOps.jaccardPairs(kept2, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOfComp = parent.keys.groupBy(find).map { case (_, ms) => ms.min }
    val expected = kept2Ids -- parent.keySet ++ minOfComp
    val cleanIds = graft.ops.CleanPipeline.clean(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds === expected,
      "survivors must be the per-component minima plus non-participants")
  }

  test("multimodal REAL decode round-trips PNG bytes through imageio") {
    import org.apache.spark.sql.functions.col
    val out = MultimodalOps.decodedImageStats(spark, docs.limit(50))
      .collect()
    assert(out.length === 50)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") === 8 + (id % 40).toInt)
      assert(r.getAs[String]("format") === "png")
      // the raster really decoded: constant gray fill survives the
      // encode/decode round trip exactly (PNG is lossless)
      assert(r.getAs[Int]("avg_r") === (id % 256).toInt)
    }
    // heights come from n_chars, check one join against the source row
    val joined = MultimodalOps.decodedImageStats(spark, docs.limit(10))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .collect()
    joined.foreach { r =>
      assert(r.getAs[Int]("height") ===
        8 + (r.getAs[Long]("n_chars") % 40).toInt)
    }
  }

  test("multimodal REAL audio decode round-trips WAV bytes " +
      "through javax.sound") {
    import org.apache.spark.sql.functions.col
    val out = MultimodalOps.decodedAudioStats(spark, docs.limit(50))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .collect()
    assert(out.length === 50)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Int]("channels") === 1)
      assert(r.getAs[Int]("bits") === 16)
      // the container really parsed: sample count and EXACT mean
      // amplitude survive the encode/decode round trip (PCM lossless,
      // square wave over a whole number of periods)
      assert(r.getAs[Long]("n_samples") ===
        400 + (r.getAs[Long]("n_chars") % 50) * 16)
      assert(r.getAs[Long]("mean_abs") === 1000 + id % 20000)
    }
  }

  test("multimodal stub decode is deterministic and schema-typed") {
    val m = MultimodalOps.imageMeta(spark, docs)
    assert(m.columns.toSeq ===
      Seq("doc_id", "width", "height", "n_bytes", "format"))
    val rows = m.collect()
    assert(rows.forall { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      w >= 16 && w < 144 && h >= 16 && h < 144
    })
    assert(rows.forall(r =>
      Set("jpeg", "png").contains(r.getAs[String]("format"))))
  }

  test("resizePlan fits the target box preserving aspect") {
    val m = MultimodalOps.resizePlan(
      MultimodalOps.imageMeta(spark, docs), 64).collect()
    assert(m.forall { r =>
      r.getAs[Int]("out_w") <= 64 && r.getAs[Int]("out_h") <= 64
    })
    // no upscale: output never exceeds input
    assert(m.forall { r =>
      r.getAs[Int]("out_w") <= r.getAs[Int]("width") &&
        r.getAs[Int]("out_h") <= r.getAs[Int]("height")
    })
  }

  test("frameSample yields stride-spaced frame indices") {
    val f = MultimodalOps.frameSample(
      MultimodalOps.imageMeta(spark, docs), 160, 5).collect()
    assert(f.forall(r =>
      r.getAs[Seq[Int]]("frame_idx").forall(_ % 5 == 0)))
  }

  test("text quality + langid + tokens agree on token counts") {
    val t = TextOps.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val q = TextOps.quality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens")).toMap
    assert(t === q)
    val langs = TextOps.langId(docs).select("pred_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "unknown")))
  }

  test("ivfTopK nprobe=2 recall dominates nprobe=1 against brute force") {
    val probes = emb.filter(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = hits(SimilarityOps.bruteForceTopK(emb, probes, k = 10))
    val one = hits(SimilarityOps.ivfTopK(emb, probes, "label", k = 10))
    val two = hits(SimilarityOps.ivfTopK(emb, probes, "label", k = 10,
      nprobe = 2))
    brute.keys.foreach { p =>
      // widening the candidate pool can only keep or improve recall:
      // a global top-10 vector in the probed cells never drops out
      val r1 = (one(p) & brute(p)).size
      val r2 = (two(p) & brute(p)).size
      assert(r2 >= r1, s"probe $p: recall fell $r1 -> $r2 with nprobe=2")
      assert(two(p).size === 10)
    }
  }

  test("repetition flags duplicate-heavy docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"), // dup 1-2/5, top bigram "a b" x2 -> 4/5
      (2L, "x y z w"),   // all distinct, every bigram unique -> 2/4
      (3L, "solo"))      // single token, no bigram
      .toDF("doc_id", "text")
    val got = TextOps.repetition(df).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) === ((5, 1.0 - 2.0 / 5, 0.8)))
    assert(got(2L) === ((4, 0.0, 0.5)))
    assert(got(3L) === ((1, 0.0, 0.0)))
    // corpus-wide: dup frac in [0,1]; bigram frac counts 2 tokens per
    // occurrence so an "a a a" run can exceed 1 but never reaches 2
    val corpus = TextOps.repetition(docs).collect()
    corpus.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1)
      assert(r.getDouble(3) >= 0 && r.getDouble(3) < 2) }
  }

  test("packSequences splits boundary-spanning docs into exact segments") {
    import spark.implicits._
    // 3 docs of 3/4/5 tokens, seqLen 4: token stream [0,12) → seqs
    // 0:[0,4) 1:[4,8) 2:[8,12)
    val df = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l"))
      .toDF("doc_id", "text")
    val got = CurationOps.packSequences(df, seqLen = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === Seq(
      (1L, 0L, 0L, 3L),   // doc1 tokens 0-2 all in seq 0
      (2L, 0L, 0L, 1L),   // doc2 token 0 finishes seq 0
      (2L, 1L, 1L, 4L),   // doc2 tokens 1-3 in seq 1
      (3L, 1L, 0L, 1L),   // doc3 token 0 finishes seq 1
      (3L, 2L, 1L, 5L)))  // doc3 tokens 1-4 fill seq 2
    // segment lengths reassemble every doc exactly once
    val covered = got.groupBy(_._1)
      .view.mapValues(_.map(s => s._4 - s._3).sum).toMap
    assert(covered === Map(1L -> 3L, 2L -> 4L, 3L -> 5L))
    // corpus-wide: every sequence except the last is exactly full
    val corpus = CurationOps.packSequences(docs, seqLen = 512).collect()
      .map(r => (r.getLong(1), r.getLong(3) - r.getLong(2)))
    val bySeq = corpus.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val last = bySeq.keys.max
    bySeq.foreach { case (seq, n) =>
      if (seq < last) assert(n === 512L, s"seq $seq holds $n tokens") }
  }

  test("mixtureSample is deterministic, rate-faithful, and map-only") {
    val rates = Map("src0" -> 0.3, "src1" -> 0.7)
    val a = CurationOps.mixtureSample(docs, rates)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = CurationOps.mixtureSample(docs, rates)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b, "seedless determinism: same keep set every run")
    // unlisted sources keep everything; listed ones land near the rate
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = CurationOps.mixtureSample(docs, rates)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (src, n) =>
      val frac = kept.getOrElse(src, 0L).toDouble / n
      rates.get(src) match {
        case Some(r) => assert(math.abs(frac - r) < 0.15,
          s"$src kept $frac of $n, wanted ~$r")
        case None => assert(frac === 1.0, s"unlisted $src must keep all")
      }
    }
    // the filter must reach the scan: no shuffle anywhere in the plan
    val p = CurationOps.mixtureSample(docs, rates)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"mixture sampling must be map-only:\n$p")
  }

  test("capPerSource keeps top-N per source via a WindowGroupLimit") {
    val capped = CurationOps.capPerSource(docs, maxDocs = 3)
    val got = capped.collect()
    got.groupBy(_.getString(1)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(2)).sorted.toSeq ===
        (1 to rows.length)) }
    // the kept docs per source are exactly the longest 3
    val bySource = docs.collect()
      .groupBy(_.getAs[String]("source"))
      .view.mapValues(_.sortBy(r =>
        (-r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
        .take(3).map(_.getAs[Long]("doc_id")).toSet)
    got.groupBy(_.getString(1)).foreach { case (src, rows) =>
      assert(rows.map(_.getLong(0)).toSet === bySource(src)) }
    // scale guard: the rank filter must push as a group limit so the
    // exchange carries O(sources x N) rows, not the corpus
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected a pushed per-key limit:\n$plan")
  }

  test("packShards distributed prefix sum matches the single-window path") {
    import graft.olap.Ords
    val small = CurationOps.packShards(docs, budget = 2000L,
        hint = Ords.Small).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1)
    val dist = CurationOps.packShards(docs, budget = 2000L,
      hint = Ords.Large)
    // capture the pre-execution plan: after collect() the AQE string
    // repeats the initial plan and double-counts its exchanges
    val p = dist.queryExecution.executedPlan.toString
    val large = dist.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1)
    assert(large === small)
    // shards are contiguous 0..max in doc order and budget-bounded
    // (a shard can only exceed budget via its final straddling doc)
    val shards = small.map(_._3)
    assert(shards.head === 0 && shards.toSeq === shards.sorted.toSeq)
    // no data-sized single-partition hop in the distributed plan: only
    // the partition-count offset frame may collapse to one partition
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"data path must not exchange to one partition:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"expected a range-partitioned prefix sum:\n$p")
  }

  test("writeShards lays out shard=N directories that roundtrip") {
    val packed = CurationOps.packShards(docs, budget = 2000L)
      .join(docs.select("doc_id", "text"), "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    CurationOps.writeShards(packed, dir)
    val layout = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(layout.nonEmpty && layout.forall(_.startsWith("shard=")),
      s"expected hive shard layout, got ${layout.mkString(",")}")
    // roundtrip: same rows, and shard pruning reads one directory
    val back = spark.read.parquet(dir)
    assert(back.count() === packed.count())
    val one = back.filter(col("shard") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() > 0)
    assert(plan.contains("PartitionFilters: [isnotnull(shard"),
      s"shard filter must prune partitions:\n$plan")
  }

  test("decontaminateBloom equals the plain exact anti-join") {
    val evalSet = docs.filter(col("doc_id") < 250)
    val train = docs.filter(col("doc_id") >= 250)
    val plain = train.join(evalSet.select("text").distinct(),
        Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // tiny filter forces a high fpr — the exact verify must absorb it
    val bloom = DedupOps.decontaminateBloom(train, evalSet,
        estItems = 50L, numBits = 400L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom === plain)
    assert(bloom.nonEmpty && bloom.size <= train.count())
    // overlapping split: every eval text IS in this train side, so the
    // contaminated-removal path must actually fire
    val bloom2 = DedupOps.decontaminateBloom(docs, evalSet,
        estItems = 50L, numBits = 400L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain2 = docs.join(evalSet.select("text").distinct(),
        Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom2 === plain2)
    assert(bloom2.size < docs.count())
  }

  test("semanticDedup drops exactly the within-cell near-dup tails") {
    val out = SimilarityOps.semanticDedup(emb, k = 8, iters = 2,
      tau = 0.47)
    val cells = SimilarityOps.kmeansCells(emb, 8, 2)
    val survivors = out.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    // survivors carry their k-means cell assignment unchanged
    val allCells = cells.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(survivors.forall { case (id, c) => allCells(id) == c })
    // no surviving pair in the same cell is still >= tau ... unless the
    // pair's min id was itself dropped transitively — so assert the
    // exact fixpoint instead: dropped == ids that appear as the higher
    // side of a within-cell near-dup pair
    val pairs = DedupOps.embeddingPairs(emb, 0.47).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCell = pairs.filter { case (a, b) => allCells(a) == allCells(b) }
    val droppedWant = sameCell.map(_._2).toSet
    assert(allCells.keySet -- survivors.keySet === droppedWant)
  }

  test("qualityClassifier is map-only and matches a manual fold") {
    val q = TextOps.qualityClassifier(docs)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"classifier scoring must not shuffle:\n$plan")
    // keep is exactly score > 0
    assert(q.filter((col("score") > 0) =!= col("keep")).count() === 0)
  }

  test("quantizeInt8 is map-only with bounded dequantization error") {
    val q = SimilarityOps.quantizeInt8(emb)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quantization must not shuffle:\n$plan")
    // |x - q*scale| <= scale/2 for every component
    val joined = q.join(
        emb.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("e")),
        "vec_id")
      .withColumn("x", expr("element_at(e, d + 1)"))
      .withColumn("err", expr("abs(x - q * scale)"))
      .filter(col("err") > col("scale") / 2 + lit(1e-12))
    assert(joined.count() === 0)
    // codes stay in int8 range
    assert(q.filter(col("q") > 127 || col("q") < -127).count() === 0)
  }

  test("chunkText covers every token exactly (generator-driven)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(1, 120)
      c <- Gen.choose(2, 40)
      o <- Gen.choose(0, c - 1)
    } yield (n, c, o)
    val params = org.scalacheck.Gen.Parameters.default
    val cases = (0 until 40).flatMap(i =>
      gen.apply(params, Seed(i.toLong)))
    cases.foreach { case (n, c, o) =>
      val toks = (1 to n).map(i => s"w$i")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextOps.chunkText(df, c, o)
        .orderBy("chunk_idx").collect()
        .map(r => r.getString(2).split(" ").toSeq)
      val stride = c - o
      val want = math.max(1, math.ceil((n - o).toDouble / stride).toInt)
      assert(chunks.length === want, s"n=$n c=$c o=$o")
      // first chunk + the non-overlap tail of each later chunk
      // reconstructs the token stream exactly
      val rebuilt = chunks.head ++
        chunks.tail.flatMap(_.drop(o))
      assert(rebuilt === toks, s"n=$n c=$c o=$o")
      // every chunk except possibly the last is full-size
      assert(chunks.init.forall(_.length == c), s"n=$n c=$c o=$o")
    }
  }

  test("qualitySample is a shuffle-free deterministic subset") {
    val s1 = CurationOps.qualitySample(docs)
    val plan = s1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quality sampling must not shuffle:\n$plan")
    val a = s1.collect().map(_.getLong(0)).sorted.toSeq
    val b = CurationOps.qualitySample(docs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    // a real subset: neither empty nor everything
    val n = docs.count()
    assert(a.nonEmpty && a.size < n)
    // the clamp keeps a floor: even the worst-scored docs survive at
    // ~5% — check nothing below u >= 0.95 band forces emptiness
    // (structural property: sample ids are a subset of doc ids)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.forall(ids))
  }

  test("vocabTopK returns a deterministic frequency-ordered head") {
    val v = TextOps.vocabTopK(docs, 10).collect()
    assert(v.length === 10)
    val ns = v.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"counts must be non-increasing: ${ns.mkString(",")}")
    // rerun is identical (ties broken lexicographically)
    val v2 = TextOps.vocabTopK(docs, 10).collect()
    assert(v.map(_.toString).toSeq === v2.map(_.toString).toSeq)
  }

  test("nearDupClusters equals a union-find over the verified pairs") {
    val pairs = DedupOps.minhashLsh(docs, 4, 2, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = DedupOps.nearDupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: plain union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    docs.select("doc_id").collect().map(_.getLong(0))
      .foreach(id => parent(id) = id)
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(id => id -> find(id)).toMap
    assert(got.size === want.size)
    assert(got === want)
    // the transitive case actually matters: some component must be
    // larger than a single pair OR there must exist >= 1 nontrivial one
    assert(pairs.nonEmpty)
    assert(got.values.groupBy(identity).exists(_._2.size >= 2))
  }

  test("star components equal union-find on random graphs") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield (n.toLong, es.filter { case (a, b) => a != b })
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 12).foreach { i =>
      val (n, es) = gen.apply(params, Seed(1000L + i)).get
      val edges = es.toDF("doc_a", "doc_b")
      val nodes = (0L until n).toDF("doc_id")
      // driverEdgeLimit = 0 forces the distributed star rounds
      val rows = DedupOps.componentsAuto(edges, nodes,
        driverEdgeLimit = 0L).collect()
      assert(rows.length === n.toInt,
        s"case $i: one label row per node, got ${rows.length} for $n")
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      (0L until n).foreach(id => parent(id) = id)
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0L until n).map(id => id -> find(id)).toMap
      assert(got === want, s"case $i: n=$n edges=$es")
    }
  }

  test("componentsAuto: driver fast path == distributed star rounds") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield (n.toLong, es.filter { case (a, b) => a != b })
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 8).foreach { i =>
      val (n, es) = gen.apply(params, Seed(7000L + i)).get
      val edges = es.toDF("doc_a", "doc_b")
      val nodes = (0L until n).toDF("doc_id")
      val fast = DedupOps.componentsAuto(edges, nodes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // driverEdgeLimit = 0 forces the distributed star path — the
      // 100 TB branch must produce the identical labels
      val dist = DedupOps.componentsAuto(edges, nodes,
          driverEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fast === dist, s"case $i: n=$n edges=$es")
      assert(fast.size === n.toInt)
    }
  }

  test("persisted cluster index: disk == memory labels, guarded wipe") {
    val path = "/tmp/graft_cluster_index"
    PipelineOpsSpec.rmrf(path)
    DedupOps.writeClusterIndex(docs, path)
    val disk = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val mem = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(disk === mem)
    // policies consuming the persisted frame == their in-memory twins
    val kbDisk = DedupOps.keepBestPerClusterFrom(
        DedupOps.readClusterLabels(spark, path), docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val kbMem = DedupOps.keepBestPerCluster(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(kbDisk === kbMem && kbDisk.nonEmpty)
    // a rebuild over the marked index is allowed (same labels out)…
    DedupOps.writeClusterIndex(docs, path)
    assert(DedupOps.readClusterLabels(spark, path).count()
      === mem.size.toLong)
    // …but a directory that is NOT a graft index refuses the wipe
    val stray = "/tmp/graft_cluster_notanindex"
    PipelineOpsSpec.rmrf(stray)
    new java.io.File(stray).mkdirs()
    val f = new java.io.FileWriter(s"$stray/precious.txt")
    f.write("do not destroy"); f.close()
    val err = intercept[IllegalArgumentException] {
      DedupOps.writeClusterIndex(docs, stray)
    }
    assert(err.getMessage.contains("refusing to wipe"))
    assert(new java.io.File(s"$stray/precious.txt").exists(),
      "guarded wipe must leave unrelated data intact")
    // the same guard protects the IVF-PQ rebuild path
    val err2 = intercept[IllegalArgumentException] {
      SimilarityOps.writeIvfPqIndex(emb, stray, kCoarse = 4,
        cIters = 1, m = 4, kSub = 4, iters = 1)
    }
    assert(err2.getMessage.contains("refusing to wipe"))
  }

  test("appendToClusterIndex == full rebuild; replayed ingest no-op") {
    val path = "/tmp/graft_cluster_append"
    PipelineOpsSpec.rmrf(path)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val index = DedupOps.writeClusterIndex(half1, path)
    DedupOps.appendToClusterIndex(index, half2, ingestId = 1L)
    val appended = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // incremental CC over (old label edges ∪ new verified edges) must
    // equal the full rebuild on the union corpus — including chains
    // where a new doc BRIDGES two old clusters
    val full = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(appended === full)
    // a replayed ingest (retried job, same id) converges to the same
    // labels and duplicates nothing
    DedupOps.appendToClusterIndex(index, half2, ingestId = 1L)
    val replayed = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(replayed === full)
    assert(DedupOps.readClusterLabels(spark, path).count()
      === full.size.toLong)
  }

  test("edge-append + deferred snapshot == rebuild; out-of-order id " +
      "refused") {
    val path = "/tmp/graft_cluster_edges"
    PipelineOpsSpec.rmrf(path)
    def third(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val index = DedupOps.writeClusterIndex(third(0), path)
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    // labels NOT yet published: readers still see the base snapshot
    assert(DedupOps.readClusterLabels(spark, path).count()
      === third(0).count())
    DedupOps.appendEdgesToClusterIndex(index, third(2), ingestId = 2L)
    // ONE deferred snapshot folds both pending ingests…
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    val snap = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // …and equals the full rebuild on the union corpus
    val full = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap === full)
    // snapshot with nothing new is a no-op at the same generation
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    // a first-time append BELOW the published generation would be
    // invisible to every label reader — refused loudly (ADVICE r9)
    val err = intercept[IllegalArgumentException] {
      DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    }
    assert(err.getMessage.contains("monotone"))
  }

  test("random append splits + random snapshot cadence == full rebuild") {
    import spark.implicits._
    // the amortization property the streaming ingest rests on: ANY
    // partition of the corpus into ordered ingests, with snapshots
    // published at ANY subset of points (always including the end),
    // yields the same labels as the one-shot batch CC
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (trial <- 1 to 2) {
      val rnd = new scala.util.Random(7100 + trial)
      val corpus = (0L until 60L).map { id =>
        (id, Seq.fill(6 + rnd.nextInt(6))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val nParts = 3 + rnd.nextInt(3)
      val part = corpus.map { case (id, _) => id -> rnd.nextInt(nParts) }
        .toMap
      val path = s"/tmp/graft_cluster_cadence_$trial"
      PipelineOpsSpec.rmrf(path)
      val idx = DedupOps.writeClusterIndex(
        df.filter(col("doc_id").isin(
          part.filter(_._2 == 0).keys.toSeq: _*)), path)
      (1 until nParts).foreach { p =>
        DedupOps.appendEdgesToClusterIndex(idx,
          df.filter(col("doc_id").isin(
            part.filter(_._2 == p).keys.toSeq: _*)), ingestId = p.toLong)
        if (rnd.nextBoolean() || p == nParts - 1)
          DedupOps.snapshotClusterLabels(spark, idx)
      }
      val got = DedupOps.readClusterLabels(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = DedupOps.nearDupClusters(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === full, s"trial $trial parts=$nParts")
    }
  }

  test("an append without its docs commit marker is invisible " +
      "everywhere") {
    val path = "/tmp/graft_cluster_nocommit"
    PipelineOpsSpec.rmrf(path)
    def third(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val index = DedupOps.writeClusterIndex(third(0), path)
    // simulate an append that crashed AFTER its shingle/band/edge
    // partitions committed but BEFORE the docs commit marker landed
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    PipelineOpsSpec.rmrf(s"$path/docs/ingest=1")
    // a later append must neither band against the phantom partitions
    // nor let the snapshot fold the phantom edges — labels equal a
    // rebuild on the COMMITTED corpus only (thirds 0 and 2)
    DedupOps.appendEdgesToClusterIndex(index, third(2), ingestId = 2L)
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    val snap = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val committedOnly = DedupOps.nearDupClusters(third(0).union(third(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap === committedOnly,
      "phantom ingest must not contribute docs, edges, or cluster ids")
  }

  test("an equal-id append must be an exact replay: a different batch " +
      "reusing the id is refused before any write") {
    val path = "/tmp/graft_cluster_fingerprint"
    PipelineOpsSpec.rmrf(path)
    def third(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val index = DedupOps.writeClusterIndex(third(0), path)
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    // exact replay: same batch, same id — converges (the documented
    // exactly-once contract), fingerprint matches
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    // a DIFFERENT batch reusing the id would overwrite generation 1's
    // partitions under labels that embed the old edges — refused
    val before = DedupOps.readClusterLabels(spark, path).count()
    val err = intercept[IllegalArgumentException] {
      DedupOps.appendEdgesToClusterIndex(index, third(2), ingestId = 1L)
    }
    assert(err.getMessage.contains("fingerprint"))
    // …and refused BEFORE any partition was touched: a fresh-id
    // append + snapshot still equals the full rebuild
    DedupOps.appendEdgesToClusterIndex(index, third(2), ingestId = 2L)
    DedupOps.snapshotClusterLabels(spark, index)
    val snap = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap === full)
    assert(before === third(0).count())
  }

  test("a docs dir with visible data files but no _SUCCESS is NOT " +
      "committed (v2-committer partial write)") {
    val path = "/tmp/graft_cluster_nosuccess"
    PipelineOpsSpec.rmrf(path)
    def third(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val index = DedupOps.writeClusterIndex(third(0), path)
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    // simulate the v2 file-output-committer crash shape: data files
    // are already VISIBLE but the job never committed (_SUCCESS never
    // landed) — under the old visible-file heuristic this partial
    // docs partition would pass the commit gate
    val dir = new java.io.File(s"$path/docs/ingest=1")
    assert(new java.io.File(dir, "_SUCCESS").delete())
    assert(dir.listFiles().exists(_.getName.endsWith(".parquet")),
      "precondition: data files remain visible")
    // the fingerprint sidecar is part of the same uncommitted wreck
    new java.io.File(dir, "_graft_fingerprint").delete()
    DedupOps.appendEdgesToClusterIndex(index, third(2), ingestId = 2L)
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    val snap = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val committedOnly = DedupOps.nearDupClusters(third(0).union(third(2)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap === committedOnly,
      "an ingest without _SUCCESS must be invisible to candidates " +
        "and snapshot folds")
  }

  test("compactClusterIndex folds history to one partition per table; " +
      "labels, future appends and replay guards all survive") {
    val path = "/tmp/graft_cluster_compact"
    PipelineOpsSpec.rmrf(path)
    def quarter(r: Int) = docs.filter(col("doc_id") % 4 === r)
    val index = DedupOps.writeClusterIndex(quarter(0), path)
    DedupOps.appendEdgesToClusterIndex(index, quarter(1), ingestId = 1L)
    DedupOps.appendEdgesToClusterIndex(index, quarter(2), ingestId = 2L)
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    def ingestDirs(t: String) =
      Option(new java.io.File(s"$path/$t").listFiles()).get
        .filter(_.getName.startsWith("ingest=")).map(_.getName).toSet
    assert(ingestDirs("docs") === Set("ingest=0", "ingest=1", "ingest=2"))
    val before = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // three ingests fold; label gens were {0, 2} so one is stale
    assert(DedupOps.compactClusterIndex(spark, index) === ((3, 1)))
    // listing surface collapsed: one base partition per table, only
    // the latest label generation
    for (t <- Seq("shingles", "bands", "edges", "docs"))
      assert(ingestDirs(t) === Set("ingest=2"), t)
    assert(Option(new java.io.File(s"$path/labels").listFiles()).get
      .filter(_.getName.startsWith("gen=")).map(_.getName).toSet
      === Set("gen=2"))
    // semantically identical: same labels…
    val after = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after === before)
    // …and the compacted base keeps its replay guard: the old tail
    // batch's id now fingerprints as the UNION, so reusing it is
    // refused rather than silently shrinking the base
    val err = intercept[IllegalArgumentException] {
      DedupOps.appendEdgesToClusterIndex(index, quarter(2), ingestId = 2L)
    }
    assert(err.getMessage.contains("fingerprint"))
    // a second compaction with nothing to fold is a no-op
    assert(DedupOps.compactClusterIndex(spark, index) === ((0, 0)))
    // future appends still band against the folded corpus: new docs
    // that near-dup FOLDED docs must link exactly as in a rebuild
    DedupOps.appendToClusterIndex(index, quarter(3), ingestId = 3L)
    val got = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === full)
  }

  test("compactClusterIndex maxFold never folds the ingest a streaming " +
      "checkpoint can still replay") {
    val path = "/tmp/graft_cluster_compact_bound"
    PipelineOpsSpec.rmrf(path)
    def quarter(r: Int) = docs.filter(col("doc_id") % 4 === r)
    val index = DedupOps.writeClusterIndex(quarter(0), path)
    DedupOps.appendToClusterIndex(index, quarter(1), ingestId = 1L)
    DedupOps.appendToClusterIndex(index, quarter(2), ingestId = 2L)
    def ingestDirs(t: String) =
      Option(new java.io.File(s"$path/$t").listFiles()).get
        .filter(_.getName.startsWith("ingest=")).map(_.getName).toSet
    // the streaming-batch scenario: batch 2's snapshot published
    // (gen=2) but its checkpoint has not committed — a compaction run
    // inside the replayed batch passes maxFold = 1, so ingest=2 stays
    // foldable-but-untouched and the replay's equal-id overwrite is
    // still admitted afterwards
    // (2 ingests folded; gen=0 pruned — stale-gen pruning is always
    // safe since readers and snapshots only ever take the max gen)
    assert(DedupOps.compactClusterIndex(spark, index, maxFold = 1L)
      === ((2, 1)))
    for (t <- Seq("shingles", "bands", "edges", "docs"))
      assert(ingestDirs(t) === Set("ingest=1", "ingest=2"), t)
    // the replay of ingest 2 (same docs, same id) is a tolerated
    // overwrite, NOT a fingerprint refusal — the property the bound
    // exists to preserve
    DedupOps.appendEdgesToClusterIndex(index, quarter(2), ingestId = 2L)
    assert(DedupOps.snapshotClusterLabels(spark, index) === 2L)
    val got = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = DedupOps.nearDupClusters(
        docs.filter(col("doc_id") % 4 =!= 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expect)
    // an unbounded follow-up finishes the fold
    assert(DedupOps.compactClusterIndex(spark, index)._1 === 2)
    for (t <- Seq("shingles", "bands", "edges", "docs"))
      assert(ingestDirs(t) === Set("ingest=2"), t)
  }

  test("compaction crash shapes: mid-stage wreck restages, leftover " +
      "staging dir blocks appends, empty-plan resume heals") {
    val path = "/tmp/graft_cluster_compact_crash"
    PipelineOpsSpec.rmrf(path)
    def half(r: Int) = docs.filter(col("doc_id") % 2 === r)
    val index = DedupOps.writeClusterIndex(half(0), path)
    DedupOps.appendToClusterIndex(index, half(1), ingestId = 1L)
    // a staging dir WITHOUT _DONE = crashed mid-stage: mutating ops
    // refuse to run past it…
    new java.io.File(s"$path/_compact").mkdirs()
    val err = intercept[IllegalArgumentException] {
      DedupOps.appendEdgesToClusterIndex(index, half(1), ingestId = 2L)
    }
    assert(err.getMessage.contains("compaction"))
    // …and compaction itself wipes the wreck and completes normally
    assert(DedupOps.compactClusterIndex(spark, index) === ((2, 1)))
    val full = DedupOps.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === full)
    // a _DONE whose staged dirs were already swapped (crash after the
    // renames, before cleanup) resumes to a clean no-op heal
    new java.io.File(s"$path/_compact").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_compact/_DONE"),
      "target=1;fold=1".getBytes("UTF-8"))
    DedupOps.compactClusterIndex(spark, index)
    assert(!new java.io.File(s"$path/_compact").exists())
    val healed = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(healed === full)
  }

  test("a crashed (uncommitted) snapshot dir is ignored, retry heals") {
    val path = "/tmp/graft_cluster_phantom"
    PipelineOpsSpec.rmrf(path)
    def third(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val index = DedupOps.writeClusterIndex(third(0), path)
    // simulate a snapshot that died mid-write: Spark's committer
    // creates the generation dir at job setup, leaving only
    // _temporary behind — it must NOT count as a published generation
    // (else retries no-op forever and the next snapshot reads empty
    // "old labels", dropping all prior connectivity)
    new java.io.File(s"$path/labels/gen=7/_temporary").mkdirs()
    DedupOps.appendEdgesToClusterIndex(index, third(1), ingestId = 1L)
    assert(DedupOps.snapshotClusterLabels(spark, index) === 1L,
      "phantom gen=7 must be invisible to the snapshot gate")
    val snap = DedupOps.readClusterLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = DedupOps.nearDupClusters(third(0).union(third(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap === full)
  }

  test("appendToClusterIndex == rebuild on random corpora; param guard") {
    import spark.implicits._
    // random near-dup-rich corpora: low vocab + doc lengths around the
    // shingle width force genuine cross-split near-dup chains,
    // including appended docs BRIDGING two base clusters
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(4200 + trial)
      val corpus = (0L until 60L).map { id =>
        val base = Seq.fill(6 + rnd.nextInt(6))(
          vocab(rnd.nextInt(vocab.size)))
        (id, base.mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val cut = 20 + rnd.nextInt(20)
      val base = df.filter(col("doc_id") < cut)
      val extra = df.filter(col("doc_id") >= cut)
      val path = s"/tmp/graft_cluster_prop_$trial"
      PipelineOpsSpec.rmrf(path)
      val idx = DedupOps.writeClusterIndex(base, path)
      DedupOps.appendToClusterIndex(idx, extra, ingestId = 1L)
      val appended = DedupOps.readClusterLabels(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = DedupOps.nearDupClusters(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(appended === full, s"trial $trial cut=$cut")
      // a handle with different banding params must refuse to append —
      // it would band new docs differently than the persisted corpus
      val err = intercept[IllegalArgumentException] {
        DedupOps.appendToClusterIndex(
          DedupOps.ClusterIndex(path, bands = 8, rows = 1,
            threshold = idx.threshold), extra, ingestId = 2L)
      }
      assert(err.getMessage.contains("band"))
      // and a non-index path receives nothing
      val err2 = intercept[IllegalArgumentException] {
        DedupOps.appendToClusterIndex(
          DedupOps.ClusterIndex(s"$path-nope", idx.bands, idx.rows,
            idx.threshold), extra, ingestId = 2L)
      }
      assert(err2.getMessage.contains("not a graft index"))
      assert(!new java.io.File(s"$path-nope").exists(),
        "append to a non-index path must not create directories")
    }
  }

  test("minhash signatures are shingle-order invariant") {
    import spark.implicits._
    // the same shingle SET in permuted array order must produce the
    // SAME signature (min over a universal-hash image is symmetric);
    // a different set is the control
    val s1 = Seq("x y z", "y z w", "z w v", "w v u")
    val df = Seq(
        (1L, s1), (2L, s1.reverse),
        (3L, Seq("p q r", "q r s", "x y z", "y z w")))
      .toDF("doc_id", "shingles")
      .withColumn("bh", expr(
        s"transform(shingles, s -> ${DedupOps.h60("s")} % ${DedupOps.P})"))
      .withColumn("sig", expr(DedupOps.minhashExpr(8)))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(df(1L) === df(2L)) // permuted set -> identical signature
    assert(df(1L) !== df(3L)) // different set -> (a.s.) different
  }

  test("star components match union-find on near-dup pairs and a deep chain") {
    import spark.implicits._
    val pairs = DedupOps.minhashLsh(docs, 4, 2, 0.5)
      .select("doc_a", "doc_b")
    val nodes = docs.select("doc_id")
    val star = DedupOps.componentsAuto(pairs, nodes, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // an independent driver union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = nodes.as[Long].collect()
    assert(star === ids.map(id => id -> find(id)).toMap)
    assert(star.values.toSet.size < ids.length,
      "the near-dup pairs must merge at least one cluster")
    // the deep-chain case the star rounds exist for: an 80-link path
    // needs 80 min-label rounds but converges here in O(log n)
    val chain = (0L until 80L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainNodes = (0L to 80L).toDF("doc_id")
    val got = DedupOps.componentsAuto(chain, chainNodes, maxRounds = 12,
        driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 81)
    assert(got.values.forall(_ == 0L),
      s"all chain nodes must label to 0: $got")
  }

  test("dupSpans flags planted twins fully and unique text not at all") {
    import spark.implicits._
    val unique = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"
    val planted = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .unionByName(Seq((200000L, unique)).toDF("doc_id", "text"))
    val corpus = docs.select("doc_id", "text").unionByName(planted)
    val res = DedupOps.dupSpans(corpus).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_spans"))).toMap
    // every span of a doc with an exact twin is shared cross-doc
    (0L until 5L).filter(res.contains).foreach { id =>
      assert(res(id)._1 === res(id)._2, s"doc $id should be fully dup")
      assert(res(id + 100000L)._1 === res(id + 100000L)._2)
    }
    // the unique-token doc shares nothing
    assert(res(200000L)._1 === 0L)
    assert(res(200000L)._2 === 3L) // 10 tokens -> 3 spans of 8
  }

  test("removeDupSpans keeps one copy: originals survive, twins cut") {
    import spark.implicits._
    val unique = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"
    // precondition: the planted originals must exist and span-eligible
    val originals = docs.filter(col("doc_id") < 3)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(originals.size === 3)
    originals.values.foreach(t =>
      assert(t.trim.split("\\s+").length >= 8, "need span-eligible docs"))
    val planted = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .unionByName(Seq((200000L, unique)).toDF("doc_id", "text"))
    val corpus = docs.select("doc_id", "text").unionByName(planted)
    val rows = DedupOps.removeDupSpans(corpus).collect()
    assert(rows.length === corpus.count()) // one row per doc, no dups
    val out = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 3L).foreach { id =>
      // the LOWEST doc_id keeps its content (normalized form)...
      val want = originals(id).trim.toLowerCase
        .split("\\s+").mkString(" ")
      assert(out(id) === want, s"original $id must keep one copy")
      // ...and the higher-id twin is cut (every span's keeper is id)
      assert(out(id + 100000L) === "", s"twin of $id must be removed")
    }
    // the unique-token doc survives verbatim (already normalized)
    assert(out(200000L) === unique)
  }

  test("snapshotDiff emits exactly the constructed delta") {
    val d = docs.select("doc_id", "text")
    val v2 = d.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val diff = CurationOps.snapshotDiff(d, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = d.select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      val want =
        if (id % 13 == 0) Some("removed")
        else if (id % 7 == 0) Some("changed") else None
      assert(diff.get(id) === want, s"doc $id")
    }
    ids.filter(_ % 11 == 0).foreach { id =>
      assert(diff.get(id + 1000000L) === Some("added"))
    }
    assert(diff.size ===
      ids.count(i => i % 13 == 0 || i % 7 == 0) + ids.count(_ % 11 == 0))
  }

  test("lmScore hot/cold join split is invariant to the hotK cut") {
    // the Zipf-head broadcast is a pure execution strategy: scores
    // must be identical whether 0, a few, or all tokens take the
    // broadcast path (hotK >= |vocab| makes the shuffle side empty)
    def scores(hotK: Int): Map[Long, Double] =
      TextOps.lmScore(docs, hotK).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("lm_bits"))
        .toMap
    val base = scores(1000)
    assert(scores(0) === base)
    assert(scores(1000000) === base)
    // scoring is self-trained cross-entropy: every doc gets a finite
    // positive score (add-one smoothing never yields p >= 1 when the
    // vocab has > 1 token)
    assert(base.values.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
    assert(base.keySet === docs.select("doc_id").collect()
      .map(_.getLong(0)).toSet)
  }

  test("lmScoreTokens scores out-of-vocabulary tokens as p = 1/denom") {
    import spark.implicits._
    // train on a 3-token corpus, score a doc mixing seen + unseen
    val trainToks = Seq((1L, "aa"), (1L, "aa"), (2L, "bb"))
      .toDF("doc_id", "tok")
    val (vocab, denom) = TextOps.lmModel(trainToks)
    assert(denom === 5L) // 3 tokens + 2 vocab entries
    val score = TextOps.lmScoreTokens(
        Seq((9L, "aa"), (9L, "zz")).toDF("doc_id", "tok"), vocab, denom)
      .collect()
    assert(score.length === 1, "an OOV token must not drop the doc")
    val bits = score.head.getAs[Double]("lm_bits")
    // -log2(3/5) for "aa" (cnt 2 + 1), -log2(1/5) for OOV "zz" (0 + 1)
    val want = (-math.log(3.0 / 5) / math.log(2.0) +
      -math.log(1.0 / 5) / math.log(2.0)) / 2
    assert(math.abs(bits - want) < 1e-9, s"$bits vs $want")
    // all-OOV documents must still emit a row (the gate has to see
    // them — they are exactly the docs it should reject)
    val allOov = TextOps.lmScoreTokens(
        Seq((7L, "qq"), (7L, "rr")).toDF("doc_id", "tok"), vocab, denom)
      .collect()
    assert(allOov.length === 1)
    assert(math.abs(allOov.head.getAs[Double]("lm_bits") -
      -math.log(1.0 / 5) / math.log(2.0)) < 1e-9)
  }

  test("keepBestPerCluster keeps exactly the best-sized doc per cluster") {
    val clusters = DedupOps.nearDupClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    val sizes = docs.selectExpr("doc_id",
        s"size(${TextOps.TOKENS}) AS n").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val got = DedupOps.keepBestPerCluster(docs).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("doc_id"))
      .toMap
    val want = clusters.groupBy(_._2).view.mapValues(members =>
      members.keys.minBy(id => (-sizes(id), id))).toMap
    assert(got === want)
  }

  test("splitByCluster never splits a near-dup cluster across splits") {
    val rows = DedupOps.splitByCluster(docs).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[String]("split")).distinct.length === 1,
        s"cluster $cid straddles splits")
    }
    val splits = rows.map(_.getAs[String]("split")).distinct.toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    // with 90/5/5 buckets the bulk must land in train
    val nTrain = rows.count(_.getAs[String]("split") == "train")
    assert(nTrain * 2 > rows.length, "train should dominate")
  }

  test("l2TopK matches a driver-side exact nearest-neighbor scan") {
    val k = 5
    val got = SimilarityOps.l2TopK(emb, emb.filter(col("vec_id") < 3L), k)
      .collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq).toMap
    val vecs = emb.select("vec_id", "embedding").collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }.toMap
    (0L until 3L).foreach { p =>
      val pv = vecs(p)
      val want = vecs.keys.filter(_ != p).toSeq.map { nid =>
        val v = vecs(nid)
        (v.indices.map(i => (pv(i) - v(i)) * (pv(i) - v(i))).sum, nid)
      }.sortBy(identity).take(k).map(_._2)
      assert(got(p) === want, s"probe $p")
    }
  }

  test("ivfPqRecall reports one bounded recall per probe") {
    val rows = SimilarityOps.ivfPqRecall(emb,
      emb.filter(col("vec_id") < 4L), kCoarse = 4, cIters = 2,
      m = 4, kSub = 4, iters = 2, k = 5, nprobe = 2).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"recall $rec out of bounds")
    }
  }

  test("pqEncode emits one code per subspace from that codebook") {
    val m = 4
    val kSub = 8
    val codes = SimilarityOps.pqEncode(emb, m, kSub, iters = 2).collect()
    val n = emb.count()
    assert(codes.length === n * m)
    val bySub = codes.groupBy(_.getAs[Int]("sub"))
    assert(bySub.keySet === (0 until m).toSet)
    bySub.foreach { case (sub, rows) =>
      assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === n)
      val used = rows.map(_.getAs[Int]("code")).distinct
      assert(used.length <= kSub, s"sub $sub uses ${used.length} codes")
      assert(used.forall(c => c >= 0 && c < kSub))
    }
  }

  test("pqTopK ranks per probe by the model-reconstructed ADC distance") {
    val m = 4
    val kSub = 8
    val dim = SimilarityOps.Dim
    val subDim = dim / m
    val k = 10
    val got = SimilarityOps.pqTopK(emb, emb.filter(col("vec_id") < 3L),
        m, kSub, iters = 2, k = k).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq).toMap
    // driver-side oracle: retrain (deterministic), encode every vector
    // and rank by summed table lookups — must reproduce the top-k
    val models = SimilarityOps.pqTrain(emb, m, kSub, iters = 2)
    val vecs = emb.select("vec_id", "embedding").collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }.toMap
    def sq(a: Array[Double], off: Int, c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) { s += (a(off + i) - c(i)) * (a(off + i) - c(i)); i += 1 }
      s
    }
    def code(v: Array[Double], sub: Int): Int =
      models(sub).minBy { case (cid, c) => (sq(v, sub * subDim, c), cid) }._1
    (0L until 3L).foreach { p =>
      val pv = vecs(p)
      val want = vecs.keys.filter(_ != p).toSeq.map { nid =>
        val d = (0 until m).map { s =>
          sq(pv, s * subDim, models(s).toMap.apply(code(vecs(nid), s)))
        }.sum
        (d, nid)
      }.sortBy(identity).take(k).map(_._2)
      assert(got(p) === want, s"probe $p")
    }
  }

  test("persisted IVF-PQ index: pruned reads, query == in-memory path") {
    import graft.ops.SimilarityOps
    val emb = Tables.load(spark, Sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val path = "/tmp/graft_ivfpq_index"
    PipelineOpsSpec.rmrf(path)
    val index = SimilarityOps.writeIvfPqIndex(emb, path, kCoarse = 8,
      cIters = 2, m = 4, kSub = 8, iters = 2)
    // the on-disk layout partition-prunes: a single-cell read shows a
    // partition filter on cell and does NOT read cell from the files
    val pruned = spark.read.parquet(path).filter(col("cell") === 3)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected a cell partition filter:\n$scan")
    // disk-backed query == the in-memory train+search at the same
    // parameters (deterministic seeded training)
    val fromDisk = SimilarityOps.queryIvfPqIndex(spark, index, probes,
        k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val direct = SimilarityOps.ivfPqTopK(emb, probes, kCoarse = 8,
        cIters = 2, m = 4, kSub = 8, iters = 2, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(fromDisk === direct)
    assert(fromDisk.nonEmpty)
  }

  test("appendToIvfPqIndex ingests without retraining; queries see it") {
    import graft.ops.SimilarityOps
    val emb = Tables.load(spark, Sf, "embeddings")
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val path = "/tmp/graft_ivfpq_append"
    PipelineOpsSpec.rmrf(path)
    // build on half the corpus, append the other half
    val index = SimilarityOps.writeIvfPqIndex(half1, path, kCoarse = 8,
      cIters = 2, m = 4, kSub = 8, iters = 2)
    val before = spark.read.parquet(path).count()
    SimilarityOps.appendToIvfPqIndex(index, half2, ingestId = 1L)
    val after = spark.read.parquet(path)
    assert(after.count() === emb.count() && before < after.count())
    // appended rows are encoded with the SAME codebooks: re-encoding
    // half2 directly matches what landed on disk
    // pqEncodeWith emits exploded (vec_id, sub, code) rows
    val direct = SimilarityOps
      .pqEncodeWith(half2, index.books, index.dim)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("sub")).toSeq
          .map(_.getAs[Int]("code")) }
    after.filter(col("vec_id") % 2 === 1).collect().foreach { r =>
      val codes = (0 until 4).map(s => r.getAs[Int](s"code_$s"))
      assert(direct(r.getAs[Long]("vec_id")) === codes,
        s"vec ${r.getAs[Long]("vec_id")}")
    }
    // and queries over the grown index return appended neighbors too
    val hits = SimilarityOps.queryIvfPqIndex(spark, index,
        emb.filter(col("vec_id") < 3), k = 10, nprobe = 8)
      .filter(col("neighbor_id") % 2 === 1).count()
    assert(hits > 0, "appended vectors never surfaced in search")
    // a REPLAYED ingest (retried job, same id) overwrites its own
    // generation — no duplicate rows land (refreshByPath: the session
    // file-status cache still lists the pre-replay files)
    SimilarityOps.appendToIvfPqIndex(index, half2, ingestId = 1L)
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).count() === emb.count(),
      "replayed ingest duplicated index rows")
    // COMPACTION folds the generations into the base: identical rows
    // and query results, one ingest dir, same cell pruning surface
    def topk() = SimilarityOps.queryIvfPqIndex(spark, index,
        emb.filter(col("vec_id") < 3), k = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val preCompact = topk()
    assert(SimilarityOps.compactIvfPqIndex(spark, index) === 2)
    assert(Option(new java.io.File(path).listFiles()).get
      .filter(_.getName.startsWith("ingest=")).map(_.getName).toSet
      === Set("ingest=0"))
    assert(spark.read.parquet(path).count() === emb.count(),
      "compaction changed the row count")
    val postCompact = topk()
    assert(postCompact === preCompact,
      "compaction changed query results")
    assert(SimilarityOps.compactIvfPqIndex(spark, index) === 0,
      "second compaction must be a no-op")
  }

  test("raw-video decode: stride semantics, geometry, corrupt payload") {
    import spark.implicits._
    val vids = MultimodalOps.withRawVideoPayload(docs)
    // every payload is exactly header + n_frames*w*h bytes
    val sizes = vids.as[MultimodalOps.MediaRow].collect()
    val meta = docs.select(col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.foreach { m =>
      val (w, h, n) = (4 + (m.doc_id % 8).toInt,
        4 + (meta(m.doc_id) % 8).toInt, 3 + (m.doc_id % 6).toInt)
      assert(m.content.length === 16 + n * w * h, s"doc ${m.doc_id}")
    }
    // stride 1 decodes every frame; stride 2 exactly the even ones
    val all = MultimodalOps.decodedVideoStats(spark, docs, stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(5))
      .toMap
    val sampled = MultimodalOps
      .decodedVideoStats(spark, docs, stride = 2).collect()
    sampled.foreach { r =>
      val key = (r.getLong(0), r.getInt(1))
      assert(r.getInt(1) % 2 === 0 && all(key) === r.getInt(5))
    }
    assert(all.size > sampled.length)
    // a non-GVID payload fails loudly, not silently
    val junk = Seq(MultimodalOps.MediaRow(1L, "notavideo".getBytes))
      .toDS()
    val err = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeVideoFrames(junk, 1).collect()
    }
    assert(err.getMessage.contains("GVID") ||
      Option(err.getCause).exists(_.getMessage.contains("GVID")))
    // valid magic but a lying header (frame count beyond the payload)
    // must ALSO die with the doc-labeled error, not an opaque
    // ArrayIndexOutOfBounds from trusted w/h/n arithmetic
    val lying = java.nio.ByteBuffer.allocate(16 + 4)
    lying.put("GVID".getBytes("US-ASCII"))
      .putInt(2).putInt(2).putInt(99)
    val truncated = Seq(MultimodalOps.MediaRow(7L, lying.array())).toDS()
    val err2 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeVideoFrames(truncated, 1).collect()
    }
    val msg2 = err2.getMessage +
      Option(err2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("corrupt GVID header") && msg2.contains("7"),
      s"wanted the doc-labeled header error, got: $msg2")
  }

  test("MJPEG decode: real lossy codec round trip, stride, corruption") {
    import spark.implicits._
    val frames = MultimodalOps.decodedMjpegStats(spark, docs, stride = 1)
      .collect()
    val meta = docs.select(col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames.nonEmpty)
    frames.foreach { r =>
      val (id, f) = (r.getLong(0), r.getInt(1))
      // container facts are exact
      assert(r.getInt(2) === 16 + (id % 8).toInt * 4, s"doc $id w")
      assert(r.getInt(3) === 16 + (meta(id) % 8).toInt * 4, s"doc $id h")
      assert(r.getInt(4) === 2 + (id % 4).toInt, s"doc $id n")
      assert(r.getInt(5) > 0, s"doc $id frame $f empty packet")
      // the codec is REAL and LOSSY: the decoded mean must sit within
      // JPEG DC-quantization error of the encoded solid shade — and
      // for most shades it will NOT be bit-exact, which is the point
      val shade = ((id + 17 * f) % 256).toInt
      assert(math.abs(r.getInt(6) - shade) <= 6,
        s"doc $id frame $f: decoded mean ${r.getInt(6)} vs shade $shade")
    }
    // stride 2 samples exactly the even frames of the stride-1 set
    val sampled = MultimodalOps.decodedMjpegStats(spark, docs, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val even = frames.filter(_.getInt(1) % 2 == 0)
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sampled === even)
    // a lying length prefix dies with the doc-labeled error
    val lying = java.nio.ByteBuffer.allocate(24)
    lying.put(MultimodalOps.MjpegMagic).putInt(16).putInt(16).putInt(1)
      .putInt(9999)
    val bad = Seq(MultimodalOps.MediaRow(3L, lying.array())).toDS()
    val err = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeMjpegFrames(bad, 1).collect()
    }
    val msg = err.getMessage +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("claims") && msg.contains("3"), msg)
    // a packet that is not JPEG dies decodably-labeled
    val junkFrame = Array.fill[Byte](32)(7)
    val b2 = java.nio.ByteBuffer.allocate(16 + 4 + junkFrame.length)
    b2.put(MultimodalOps.MjpegMagic).putInt(16).putInt(16).putInt(1)
      .putInt(junkFrame.length).put(junkFrame)
    val bad2 = Seq(MultimodalOps.MediaRow(4L, b2.array())).toDS()
    val err2 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeMjpegFrames(bad2, 1).collect()
    }
    val msg2 = err2.getMessage +
      Option(err2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("not decodable"), msg2)
  }

  test("bpeTrain matches a driver-side reference (random corpora)") {
    import spark.implicits._
    // reference BPE over a word-frequency map: overlapping adjacent
    // pair counts, argmax by (count desc, pair asc), greedy
    // left-to-right merge application
    def refBpe(words0: Map[String, Long],
        n: Int): Seq[(Int, String, String, Long)] = {
      var words = words0.toSeq.map { case (w, f) =>
        (w.map(_.toString).toVector, f) }
      val out = Vector.newBuilder[(Int, String, String, Long)]
      var r = 0
      var done = false
      while (r < n && !done) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        words.foreach { case (s, f) =>
          s.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), c) = counts.toSeq
            .minBy { case ((x, y), m) => (-m, x, y) }
          out += ((r, a, b, c))
          words = words.map { case (s, f) =>
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            s.foreach { x =>
              if (acc.nonEmpty && acc.last == a && x == b)
                acc(acc.size - 1) = a + b
              else acc += x
            }
            (acc.toVector, f)
          }
          r += 1
        }
      }
      out.result()
    }
    val vocab = Vector("low", "lower", "lowest", "newest", "widest",
      "aaa", "aaaa", "banana")
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(900 + trial)
      val texts = (0L until 30L).map { i =>
        (i, Seq.fill(3 + rnd.nextInt(5))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = texts.toDF("doc_id", "text")
      val wordFreq = texts.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (w, xs) => w -> xs.size.toLong }
      val got = TextOps.bpeTrain(df, nMerges = 10).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got === refBpe(wordFreq, 10), s"trial $trial")
      assert(got.nonEmpty)
    }
  }

  test("bpeTrain splits on code points — no surrogate-broken symbols") {
    import spark.implicits._
    // U+1F600 is a surrogate PAIR in UTF-16: a code-unit split (the
    // pre-r10 split(w, '')) would learn lone-surrogate symbols and
    // embed them as invalid strings in the fold SQL (ADVICE r9)
    val face = new String(Character.toChars(0x1F600))
    val df = Seq(
        (0L, s"${face}ab ${face}ab ${face}ab"),
        (1L, s"${face}ab ${face}ab"))
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(df, nMerges = 2).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(merges.length === 2)
    merges.foreach { case (a, b) =>
      Seq(a, b).foreach { s =>
        assert(!Character.isLowSurrogate(s.head) &&
          !Character.isHighSurrogate(s.last),
          s"surrogate-broken symbol: ${s.map(_.toInt).mkString(",")}")
      }
    }
    // the emoji rides through the merge table as ONE intact symbol
    assert(merges.exists { case (a, b) => (a + b).contains(face) })
  }

  test("bpeEncode applies learned merges like the reference") {
    import spark.implicits._
    val df = Seq((0L, "banana bandana low low lower"),
        (1L, "banana lower lowest"))
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(df, nMerges = 6).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextOps.bpeEncode(df, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // driver-side application of the same merges
    def segment(w: String): Int = {
      var s = w.map(_.toString).toVector
      merges.foreach { case (a, b) =>
        val acc = scala.collection.mutable.ArrayBuffer[String]()
        s.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc(acc.size - 1) = a + b
          else acc += x
        }
        s = acc.toVector
      }
      s.size
    }
    val texts = Map(0L -> "banana bandana low low lower",
      1L -> "banana lower lowest")
    texts.foreach { case (id, t) =>
      val words = t.split(" ").toSeq
      assert(got(id) === ((words.size.toLong,
        words.map(segment).sum.toLong)), s"doc $id")
    }
    // merges genuinely compress: fewer bpe tokens than characters
    val chars = texts(0L).replace(" ", "").length
    assert(got(0L)._2 < chars)
  }

  test("cleanAudit partitions the input and agrees with clean") {
    val audit = CleanPipeline.cleanAudit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every input doc gets exactly one fate
    assert(audit.size === docs.count())
    // the audit's kept set IS the pipeline's survivor set — the audit
    // can never disagree with the pipeline it explains
    val kept = audit.filter(_._2 == "kept").keySet
    val surv = CleanPipeline.clean(docs).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === surv)
    // the fixture hits kept/quality/near_dup; exact_dup needs a
    // planted twin (sf0.001's exact dups all fail quality first)
    val fates = audit.values.toSet
    assert(Set("kept", "quality", "near_dup").subsetOf(fates), s"$fates")
    assert(fates.subsetOf(
      Set("kept", "quality", "exact_dup", "near_dup")))
    import spark.implicits._
    val good = ("the a of and to in " * 8).trim
    val planted = Seq(
        (1L, good), (2L, good),                  // exact twins
        (3L, "zz"))                              // fails quality
      .toDF("doc_id", "text")
    val got = CleanPipeline.cleanAudit(planted).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "kept", 2L -> "exact_dup",
      3L -> "quality"), s"$got")
  }

  test("persisted clean index: fates == cleanAudit, cleanFrom == clean, " +
      "guarded wipe") {
    val path = "/tmp/graft_clean_index"
    PipelineOpsSpec.rmrf(path)
    CleanPipeline.writeCleanIndex(docs, path)
    val disk = CleanPipeline.readCleanFates(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val mem = CleanPipeline.cleanAudit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(disk === mem)
    // survivors reconstructed from the fate table are EXACTLY clean()
    val fromIdx = CleanPipeline.cleanFrom(docs,
        CleanPipeline.readCleanFates(spark, path))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = CleanPipeline.clean(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fromIdx === direct && fromIdx.nonEmpty)
    // a directory that is NOT a graft index refuses the wipe
    val stray = "/tmp/graft_clean_notanindex"
    PipelineOpsSpec.rmrf(stray)
    new java.io.File(stray).mkdirs()
    val f = new java.io.FileWriter(s"$stray/precious.txt")
    f.write("do not destroy"); f.close()
    val err = intercept[IllegalArgumentException] {
      CleanPipeline.writeCleanIndex(docs, stray)
    }
    assert(err.getMessage.contains("refusing to wipe"))
    assert(new java.io.File(s"$stray/precious.txt").exists())
  }

  test("mineTriplets pairs positives with the hard-negative band only") {
    val e = emb
    val trip = RetrievalOps.mineTriplets(e,
      e.filter(col("vec_id") < 3), posK = 2, negFrom = 5, negTo = 8)
      .collect()
    val ranked = SimilarityOps
      .bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(trip.nonEmpty)
    // 3 probes × 2 positives × 4 negatives
    assert(trip.length === 3 * 2 * 4)
    trip.foreach { r =>
      val (p, pos, neg) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(ranked((p, pos)) <= 2, s"positive out of band: $r")
      val nr = ranked((p, neg))
      assert(nr >= 5 && nr <= 8, s"negative out of band: $r")
      assert(r.getInt(3) === nr)
    }
    // overlapping bands refuse loudly
    intercept[IllegalArgumentException] {
      RetrievalOps.mineTriplets(e, e.filter(col("vec_id") < 3),
        posK = 5, negFrom = 3, negTo = 8)
    }
  }

  test("maxSimTopK matches a driver-side late-interaction computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val chunks = (0L until 40L).map(i => (i, i % 10, vec()))
    val docs = chunks.toDF("vec_id", "doc_id", "embedding")
    val queries = chunks.filter(_._1 < 6)
      .map { case (v, _, e) => (v, v % 2, e) }
      .toDF("vec_id", "query_id", "embedding")
    val got = RetrievalOps.maxSimTopK(docs, queries, k = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    // driver-side reference
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    for (q <- 0L until 2L) {
      val qchunks = chunks.filter(c => c._1 < 6 && c._1 % 2 == q)
      val scores = (0L until 10L).map { doc =>
        val dchunks = chunks.filter(_._2 == doc)
        doc -> qchunks.map(qc =>
          dchunks.map(dc => cos(qc._3, dc._3)).max).sum
      }
      val want = scores.sortBy { case (id, s) => (-s, id) }
        .take(4).map(_._1)
      want.zipWithIndex.foreach { case (doc, i) =>
        assert(got((q, i + 1)) === doc, s"query $q rank ${i + 1}")
      }
    }
  }

  test("meanPool equals a driver-side element-wise mean; one exchange") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 30.0f)),
      (2L, Array(3.0f, 5.0f, -10.0f)),
      (4L, Array(2.0f, 2.0f, 1.0f)),
      (1L, Array(100.0f, 0.25f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.meanPool(vecs, "vec_id % 2", dim = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got((0L, 0)) === ((2.0, 3L)))
    assert(got((0L, 1)) === ((3.0, 3L)))
    assert(got((0L, 2)) === ((7.0, 3L)))
    assert(got((1L, 0)) === ((100.0, 1L)))
    assert(got((1L, 1)) === ((0.25, 1L)))
    // one aggregation exchange on (group, d) — the explode and the
    // division are map-side; no wide array aggregate, no second shuffle
    val plan = SimilarityOps.meanPool(vecs, "vec_id % 2", dim = 3)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"meanPool must shuffle exactly once:\n$plan")
  }

  test("GVDF inter-frame decode: lossless chain, P-frame compression") {
    import spark.implicits._
    // the chain decode (I + residual accumulation) must reproduce the
    // direct render exactly — Deflate is lossless and the modular
    // delta arithmetic must round-trip every byte
    val frames = MultimodalOps
      .decodedInterframeStats(spark, docs, stride = 1).collect()
    val meta = docs.select(col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames.nonEmpty)
    frames.foreach { r =>
      val (id, f) = (r.getLong(0), r.getInt(1))
      val (w, h) = (16 + (id % 8).toInt * 4,
        16 + (meta(id) % 8).toInt * 4)
      assert(r.getInt(2) === w && r.getInt(3) === h, s"doc $id geom")
      assert(r.getBoolean(5) === (f % MultimodalOps.Gop == 0))
      val wh = w * h
      val p0 = (f * 97) % (wh - 16)
      def noise(i: Int): Long = (id + f + i.toLong * 37) % 256
      val expected = (0 until wh).map(noise).sum -
        (p0 until p0 + 16).map(noise).sum +
        16 * ((id * 3 + f * 11) % 256)
      assert(r.getLong(6) === expected, s"doc $id frame $f pixel sum")
    }
    // the codec is genuinely PREDICTIVE: P-frame packets (sparse
    // residuals) must deflate far below I-frame packets (full rasters)
    val payloads = MultimodalOps.withInterframePayload(docs)
      .as[MultimodalOps.MediaRow].collect()
    var iBytes = 0L; var iCnt = 0L; var pBytes = 0L; var pCnt = 0L
    payloads.foreach { m =>
      val buf = java.nio.ByteBuffer.wrap(m.content)
      buf.position(4)
      val n = { buf.getInt; buf.getInt; buf.getInt }
      (0 until n).foreach { _ =>
        val t = buf.get(); val len = buf.getInt
        if (t == 0) { iBytes += len; iCnt += 1 }
        else { pBytes += len; pCnt += 1 }
        buf.position(buf.position() + len)
      }
    }
    assert(iCnt > 0 && pCnt > 0)
    assert(pBytes * iCnt < iBytes * pCnt / 2,
      s"P-frames must average < half the I-frame size: " +
        s"I ${iBytes / iCnt}B/frame vs P ${pBytes / pCnt}B/frame")
    // a stream that opens with a P-frame has no prediction base
    val badBuf = java.nio.ByteBuffer.allocate(16 + 5 + 4)
    badBuf.put(MultimodalOps.InterMagic)
      .putInt(16).putInt(16).putInt(1)
      .put(1: Byte).putInt(4).put(Array[Byte](1, 2, 3, 4))
    val bad = Seq(MultimodalOps.MediaRow(9L, badBuf.array())).toDS()
    val err = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeInterframeFrames(bad, 1).collect()
    }
    val msg = err.getMessage +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("starts with a P-frame") && msg.contains("9"),
      msg)
  }

  test("binaryFile media ingest: file round trip equals column path") {
    val dir = "/tmp/graft_media_files_spec"
    PipelineOpsSpec.rmrf(dir)
    MultimodalOps.writeMediaFiles(docs, dir)
    // a sidecar file in the tree must be glob-filtered at LISTING
    // time — a crawl directory always mixes media with metadata
    val side = new java.io.File(s"$dir/shard=0/notes.txt")
    val fw = new java.io.FileWriter(side)
    fw.write("not a png"); fw.close()
    val viaFiles = MultimodalOps.decodeImage(
        MultimodalOps.readMediaFiles(spark, dir))
      .collect().map(p => p.doc_id -> ((p.width, p.height, p.avg_r)))
      .toMap
    val viaColumn = MultimodalOps.decodedImageStats(spark, docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(4))))
      .toMap
    assert(viaFiles === viaColumn,
      "file-ingested decode must equal the parquet-column decode")
    assert(viaFiles.size === docs.count())
  }

  test("compact bin-packs a fragmented dataset without losing rows") {
    val in = "/tmp/graft_compact_in"
    val out = "/tmp/graft_compact_out"
    PipelineOpsSpec.rmrf(in); PipelineOpsSpec.rmrf(out)
    // fragment: 64 files for a ~200 KB corpus
    docs.repartition(64).write.parquet(in)
    def parquetFiles(path: String) =
      Option(new java.io.File(path).listFiles).get
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 64)
    val n = CurationOps.compact(spark, in, out, targetBytes = 128L * 1024)
    assert(parquetFiles(out) === n && n < 64)
    // content survives exactly
    val a = spark.read.parquet(in).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = spark.read.parquet(out).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // in-place rewrite is rejected
    intercept[IllegalArgumentException] {
      CurationOps.compact(spark, in, in, 1L)
    }
  }

  test("redactPii scrubs emails, IPs and phones, leaves clean text") {
    import spark.implicits._
    val rows = Seq(
      ("mail a.b-c%d@sub.example.org end", "mail <EMAIL> end"),
      ("ips 10.0.3.77 and 192.168.0.1.", "ips <IP> and <IP>."),
      ("call 555-0134 or 800-9999 now", "call <PHONE> or <PHONE> now"),
      ("all: x@y.io 1.2.3.4 555-1234", "all: <EMAIL> <IP> <PHONE>"),
      ("clean text stays intact 12345", "clean text stays intact 12345"),
      ("version 1.2.3 is not an ip", "version 1.2.3 is not an ip"))
      .toDF("raw", "want")
    val got = TextOps.redactPii(rows, "raw", "got")
      .filter(col("got") =!= col("want"))
      .select("raw", "got", "want").collect()
    assert(got.isEmpty, got.mkString("\n"))
  }

  test("ingest commit markers land even when the session disables " +
      "marksuccessfuljobs (object-store default)") {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val hc = spark.sparkContext.hadoopConfiguration
    val old = Option(hc.get(key))
    hc.set(key, "false")
    try {
      val path = "/tmp/graft_marker_force"
      PipelineOpsSpec.rmrf(path)
      def half(r: Int) = docs.filter(col("doc_id") % 2 === r)
      val index = DedupOps.writeClusterIndex(half(0), path)
      DedupOps.appendEdgesToClusterIndex(index, half(1), ingestId = 1L)
      // the strict docs-commit gate REQUIRES _SUCCESS: without the
      // per-write force, a disabled committer marker would make every
      // ingest permanently invisible (snapshots frozen at gen 0)
      assert(new java.io.File(s"$path/docs/ingest=1/_SUCCESS").exists(),
        "commit marker missing under marksuccessfuljobs=false")
      assert(DedupOps.snapshotClusterLabels(spark, index) === 1L)
    } finally old match {
      case Some(v) => hc.set(key, v)
      case None => hc.unset(key)
    }
  }

  test("LSH band keys never exceed the packed-Long ceiling: explicit " +
      "refusal and auto-geometry cap instead of a silent 64-bit wrap") {
    intercept[IllegalArgumentException] {
      SimilarityOps.lshBuckets(emb, nBits = 64)
    }
    // the geometry embeddingPairsLshAuto derives past the ceiling:
    // bits cap at 63/bands (15 at 4 bands), never lshBitsPerBand's
    // unbounded log2 (34 at 2^40 vectors)
    assert(DedupOps.lshBitsPerBand(1L << 40) === 34)
    assert(math.min(DedupOps.lshBitsPerBand(1L << 40), 63 / 4) === 15)
    intercept[IllegalArgumentException] {
      DedupOps.embeddingPairsLsh(emb, 0.47, bands = 4, bitsPerBand = 17)
        .count()
    }
    // wide single-band keys are REAL 40-bit keys, not Int-wrapped
    // 8-bit ones (the old `% (1 << 40)` evaluated as `% 256`): a
    // finer partition can only shrink the candidate set, so the
    // verified pairs at 40 bits are a subset of the 8-bit run's
    def pairs(bits: Int) = DedupOps
      .embeddingPairsLsh(emb, 0.47, bands = 1, bitsPerBand = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(40).subsetOf(pairs(8)))
  }

  test("IVF-PQ compaction states guard appends and queries like the " +
      "cluster-index twin") {
    import graft.ops.SimilarityOps
    val emb = Tables.load(spark, Sf, "embeddings")
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val path = "/tmp/graft_ivfpq_guard"
    PipelineOpsSpec.rmrf(path)
    val index = SimilarityOps.writeIvfPqIndex(half1, path, kCoarse = 4,
      cIters = 2, m = 4, kSub = 8, iters = 2)
    SimilarityOps.appendToIvfPqIndex(index, half2, ingestId = 1L)
    val probes = emb.filter(col("vec_id") < 3)
    // crashed mid-STAGE (staging dir, no _DONE): appends refuse,
    // queries still serve — the originals are untouched
    new java.io.File(s"$path/_compact").mkdirs()
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.appendToIvfPqIndex(index, half2, ingestId = 2L)
    }
    assert(e1.getMessage.contains("compaction"))
    assert(SimilarityOps.queryIvfPqIndex(spark, index, probes,
      k = 5, nprobe = 4).count() > 0)
    // mid-SWAP (_DONE present): queries refuse too — part of the
    // index may live only under the invisible staging dir
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_compact/_DONE"),
      "0,1".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.queryIvfPqIndex(spark, index, probes,
        k = 5, nprobe = 4)
    }
    assert(e2.getMessage.contains("swap"))
    // re-running compaction heals the wreck (the fake plan has no
    // staged data, so the swap is a no-op), then folds for real
    SimilarityOps.compactIvfPqIndex(spark, index)
    assert(!new java.io.File(s"$path/_compact").exists())
    assert(SimilarityOps.compactIvfPqIndex(spark, index) === 2)
    assert(SimilarityOps.compactIvfPqIndex(spark, index) === 0)
    assert(spark.read.parquet(path).count() === emb.count())
    assert(SimilarityOps.queryIvfPqIndex(spark, index, probes,
      k = 5, nprobe = 4).count() > 0)
  }
}

object PipelineOpsSpec {
  /** Recursive delete for spec-scoped /tmp datasets (stale layouts
    * from earlier runs would poison partition discovery).
    */
  def rmrf(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }
}
