package graft

import org.apache.spark.sql.functions._
import graft.Harness.force

/** Scale probes at sf0.1, local[32]: each branch times its steps AND
  * asserts its result (labels equal the one-shot batch CC, a bounded
  * budget, no concurrent failure). SCALING.md records the curves.
  * Usage: `runMain graft.ScaleProbe <branch> [args]`.
  */
object ScaleProbe {
  private val Branches = Seq("components", "compact", "streamclusters",
    "soak", "seglru", "servesoak", "snapdup")

  def main(args: Array[String]): Unit = {
    val branch = args.headOption.getOrElse("")
    require(Branches.contains(branch),
      s"usage: ScaleProbe <${Branches.mkString("|")}> [args]")
    val spark = Harness.session(32)
    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($r)")
    }
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text", "source", "n_chars")
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    if (branch == "components") {
      // componentsAuto crossover probe: the driver union-find path is
      // capped at 2M deduped edges; above it the distributed star
      // rounds take over. Exercise BOTH paths at and past the boundary
      // on synthetic graphs (blocks of chain edges + long-range unions
      // — multi-round topology, not just stars) and assert identical
      // labels. Rows land in SCALING.md.
      import graft.ops.DedupOps
      import graft.olap.Pins
      for (nEdges <- Seq(1500000L, 3000000L)) {
        // chain edges inside blocks of 10 (clusters of 10 nodes,
        // diameter 9 — chains force several star rounds, unlike
        // pre-starred topologies that converge in one)
        val nodes = Pins.pin(spark.range(nEdges + nEdges / 9 + 2L)
          .select(col("id").as("doc_id")).persist())
        val chain = spark.range(nEdges)
          .select((col("id") + expr("id div 9")).as("doc_a"),
            (col("id") + expr("id div 9") + 1L).as("doc_b"))
        val edges = Pins.pin(chain.repartition(32).persist())
        println(s"-- edges=${edges.count()} nodes=${nodes.count()}")
        time(s"driver union-find $nEdges")(Pins.scoped {
          force(DedupOps.componentsAuto(edges, nodes,
              driverEdgeLimit = 10000000L)
            .select(col("cluster_id")).distinct()) })
        time(s"distributed star $nEdges")(Pins.scoped {
          force(DedupOps.componentsAuto(edges, nodes,
              driverEdgeLimit = 0L)
            .select(col("cluster_id")).distinct()) })
        time(s"auto (cap 2M) $nEdges")(Pins.scoped {
          force(DedupOps.componentsAuto(edges, nodes)
            .select(col("cluster_id")).distinct()) })
        // label-level equality, not just cluster counts
        time(s"label equality $nEdges")(Pins.scoped {
          val a = DedupOps.componentsAuto(edges, nodes,
            driverEdgeLimit = 10000000L)
          val b = DedupOps.componentsAuto(edges, nodes,
            driverEdgeLimit = 0L)
          val diff = a.join(b, Seq("doc_id"))
            .filter(a("cluster_id") =!= b("cluster_id")).count()
          require(diff == 0L, s"paths disagree on $diff labels")
          diff })
        Pins.freeCut(edges); Pins.freeCut(nodes)
      }
    }
    if (branch == "compact") {
      // persisted-index small-files curve: many tiny appends (the
      // production streaming cadence), then compaction — the claim is
      // that read/append/snapshot cost and the listing surface go
      // FLAT after compaction while labels stay identical
      import graft.ops.{DedupOps, SimilarityOps}
      import graft.olap.Pins
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      def dirCount(p: String): Int = {
        val path = new org.apache.hadoop.fs.Path(p)
        if (!fs.exists(path)) 0
        else fs.listStatus(path).count { st =>
          val n = st.getPath.getName
          n.startsWith("ingest=") || n.startsWith("gen=")
        }
      }
      val nAppends = 24
      val corpus = docs.filter(col("doc_id") < 30000)
      def slice(r: Int) = corpus.filter(col("doc_id") % (nAppends + 2) === r)
      val path = "/tmp/graft_scale_compactidx"
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      var idx: DedupOps.ClusterIndex = null
      time(s"base build + $nAppends appends")(Pins.scoped {
        idx = DedupOps.writeClusterIndex(slice(0), path)
        (1 to nAppends).foreach { r =>
          DedupOps.appendEdgesToClusterIndex(idx, slice(r), r.toLong)
          if (r % 6 == 0) DedupOps.snapshotClusterLabels(spark, idx)
        }
        DedupOps.snapshotClusterLabels(spark, idx) })
      def tableDirs() = Seq("shingles", "bands", "edges", "docs", "labels")
        .map(t => dirCount(s"$path/$t")).sum
      println(s"   partition dirs fragmented: ${tableDirs()}")
      time("labels read (fragmented)")(Pins.scoped {
        force(DedupOps.readClusterLabels(spark, path)) })
      time("append+snap (fragmented)")(Pins.scoped {
        DedupOps.appendEdgesToClusterIndex(idx, slice(nAppends + 1),
          (nAppends + 1).toLong)
        DedupOps.snapshotClusterLabels(spark, idx) })
      time("compactClusterIndex")(
        DedupOps.compactClusterIndex(spark, idx))
      println(s"   partition dirs compacted:  ${tableDirs()}")
      // ROW-level: compacted index labels == one-shot batch CC on the
      // full corpus (the append==rebuild claim ACROSS a compaction)
      val compLabels = Pins.scoped {
        DedupOps.readClusterLabels(spark, path).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap }
      val expect = Pins.scoped {
        DedupOps.nearDupClusters(corpus).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap }
      require(compLabels == expect,
        s"compacted labels diverge: ${compLabels.size} vs ${expect.size}")
      time("labels read (compacted)")(Pins.scoped {
        force(DedupOps.readClusterLabels(spark, path)) })
      time("append+snap (compacted)")(Pins.scoped {
        DedupOps.appendToClusterIndex(idx,
          corpus.filter(col("doc_id") % (nAppends + 2) === 0)
            .select((col("doc_id") + lit(500000L)).as("doc_id"),
              concat(col("text"), lit(" tail")).as("text"),
            col("source"), col("n_chars")),
          (nAppends + 2).toLong) })
      // IVF-PQ: same curve — generations fold, probes unchanged
      val pqPath = "/tmp/graft_scale_compactpq"
      fs.delete(new org.apache.hadoop.fs.Path(pqPath), true)
      var pq: SimilarityOps.IvfPqIndex = null
      time("ivfpq build + 16 appends")(Pins.scoped {
        pq = SimilarityOps.writeIvfPqIndex(
          emb.filter(col("vec_id") % 17 === 0), pqPath,
          kCoarse = 16, cIters = 3, m = 4, kSub = 16, iters = 3)
        (1 to 16).foreach { r =>
          SimilarityOps.appendToIvfPqIndex(pq,
            emb.filter(col("vec_id") % 17 === r), r.toLong) } })
      println(s"   ivfpq ingest dirs fragmented: ${dirCount(pqPath)}")
      time("ivfpq query (fragmented)")(Pins.scoped {
        force(SimilarityOps.queryIvfPqIndex(spark, pq,
          emb.filter(col("vec_id") < 50), k = 10, nprobe = 4)) })
      time("compactIvfPqIndex")(
        SimilarityOps.compactIvfPqIndex(spark, pq))
      println(s"   ivfpq ingest dirs compacted:  ${dirCount(pqPath)}")
      time("ivfpq query (compacted)")(Pins.scoped {
        force(SimilarityOps.queryIvfPqIndex(spark, pq,
          emb.filter(col("vec_id") < 50), k = 10, nprobe = 4)) })
    }
    if (branch == "streamclusters") {
      // streaming cluster-index ingest batch-size sweep at a FIXED
      // corpus: per-batch work must scale with the batch, so total
      // drain time across nBatches ∈ {2, 8} stays roughly flat (the
      // old full-CC-per-batch shape grew with batches × corpus dup
      // mass). Labels must equal the one-shot batch CC regardless.
      import graft.olap.Pins
      // deterministic subset (limit() can pick different rows per job)
      val batchDocs = docs.filter(col("doc_id") < 20000)
      val expect = Pins.scoped {
        graft.ops.DedupOps.nearDupClusters(batchDocs).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap }
      // snapEvery=1 republishes labels every batch — the r9 shape
      // whose per-batch cost grew with the corpus's duplicate mass;
      // snapEvery=4 is the amortized default
      // the (8, 1, 2) row exercises the LIFECYCLE compaction knob:
      // mid-stream folds at batches 2/4/6 (bounded at ingestId - 1)
      // plus the unbounded drain-end pass — labels must still equal
      // the one-shot CC and the final index must be fully folded
      for ((nBatches, snapEvery, compactEvery) <-
          Seq((2, 4, 0), (8, 4, 0), (8, 1, 0), (8, 1, 2))) {
        val root =
          s"/tmp/graft_scale_sclusters_${nBatches}_${snapEvery}_$compactEvery"
        org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sessionState.newHadoopConf()).delete(
            new org.apache.hadoop.fs.Path(root), true)
        batchDocs.repartition(nBatches)
          .write.parquet(s"$root/in")
        val stream = spark.readStream.schema(batchDocs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        time(s"ingest nBatches=$nBatches snapEvery=$snapEvery" +
            s" compactEvery=$compactEvery")(
          Pins.scoped {
            val got = graft.streaming.StreamingCube.clusterIndexIngest(
                stream, batchDocs, s"$root/index", s"$root/chk",
                snapshotEvery = snapEvery, compactEvery = compactEvery)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
            // ROW-LEVEL equality with the one-shot batch CC — the
            // claim SCALING.md records
            require(got == expect,
              s"labels diverge: ${got.size} vs ${expect.size} docs")
            if (compactEvery > 0) {
              val dirs = Option(new java.io.File(s"$root/index/edges")
                .listFiles()).map(_.count(f => f.isDirectory &&
                  f.getName.startsWith("ingest="))).getOrElse(0)
              require(dirs == 1,
                s"drain-end compaction left $dirs edge partitions")
            }
            got.size })
      }
    }
    if (branch == "soak") {
      // LONG-CADENCE streaming soak (VERDICT r11 watch-list): 200+
      // micro-batches through clusterIndexIngest at production
      // trickle size, compaction wired into the lifecycle vs off.
      // Claims measured, not extrapolated: (a) with compactEvery=N
      // the listing surface stays O(ingests since last compaction)
      // across MANY compaction cycles, (b) per-batch append latency
      // stays ~flat (no slope from accumulated history), (c) labels
      // at drain are row-identical to the one-shot batch CC either
      // way. Telemetry rides a StreamingQueryListener: per-batch
      // trigger ms from the progress event, dirs counted right after
      // each batch commits.
      import graft.olap.Pins
      val nBatches = args.lift(1).map(_.toInt).getOrElse(200)
      val compactN = args.lift(2).map(_.toInt).getOrElse(25)
      val batchDocs = docs.filter(col("doc_id") < 20000)
      val expect = Pins.scoped {
        graft.ops.DedupOps.nearDupClusters(batchDocs).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap }
      def tableDirs(root: String): Int =
        Seq("shingles", "bands", "edges", "docs", "labels").map { t =>
          Option(new java.io.File(s"$root/index/$t").listFiles())
            .map(_.count(f => f.isDirectory &&
              (f.getName.startsWith("ingest=") ||
               f.getName.startsWith("gen=")))).getOrElse(0)
        }.sum
      for (compactEvery <- Seq(0, compactN)) {
        val root = s"/tmp/graft_scale_soak_$compactEvery"
        org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sessionState.newHadoopConf()).delete(
            new org.apache.hadoop.fs.Path(root), true)
        batchDocs.repartition(nBatches).write.parquet(s"$root/in")
        val stream = spark.readStream.schema(batchDocs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        val batchMs = new java.util.concurrent.ConcurrentHashMap[
          Long, (Long, Int)]()
        val listener = new org.apache.spark.sql.streaming
            .StreamingQueryListener {
          override def onQueryStarted(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: org.apache.spark.sql
            .streaming.StreamingQueryListener.QueryTerminatedEvent)
            : Unit = ()
          override def onQueryProgress(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent): Unit = {
            val ms = Option(e.progress.durationMs.get("triggerExecution"))
              .map(_.longValue).getOrElse(0L)
            // measurement-only telemetry, best-effort by design: this
            // async callback can race the NEXT micro-batch's in-flight
            // commits, so the dirs@end count per window is approximate
            // (±1 batch), and zero-input progress events (empty
            // triggers) are dropped from the per-window means — fine
            // for the SCALING.md slope comparison, not an exact ledger
            if (e.progress.numInputRows > 0)
              batchMs.put(e.progress.batchId, (ms, tableDirs(root)))
          }
        }
        spark.streams.addListener(listener)
        val wall = try {
          val t0 = System.nanoTime()
          val got = Pins.scoped {
            graft.streaming.StreamingCube.clusterIndexIngest(
                stream, batchDocs, s"$root/index", s"$root/chk",
                snapshotEvery = 4, compactEvery = compactEvery)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toMap }
          require(got == expect,
            s"soak labels diverge at compactEvery=$compactEvery: " +
              s"${got.size} vs ${expect.size}")
          (System.nanoTime() - t0) / 1e9
        } finally spark.streams.removeListener(listener)
        // windowed slope table: one row per compaction cycle
        import scala.jdk.CollectionConverters._
        val byId = batchMs.asScala.toSeq.sortBy(_._1)
        val win = math.max(1, if (compactEvery > 0) compactEvery
                              else nBatches / 8)
        println(f"-- soak compactEvery=$compactEvery " +
          f"batches=${byId.size} wall=$wall%6.1f s")
        byId.grouped(win).foreach { w =>
          val ms = w.map(_._2._1)
          println(f"   batches ${w.head._1}%3d..${w.last._1}%3d  " +
            f"mean ${ms.sum / ms.size}%5d ms  max ${ms.max}%5d ms  " +
            f"dirs@end ${w.last._2._2}%4d")
        }
        time(s"labels read (compactEvery=$compactEvery)")(Pins.scoped {
          force(graft.ops.DedupOps.readClusterLabels(
            spark, s"$root/index")) })
        println(s"   final dirs: ${tableDirs(root)}")
      }
    }
    if (branch == "seglru") {
      // r18: byte-budget LRU soak — 200 DISTINCT mixed-set queries
      // (distinct slicers → distinct SegKeys) under a resident-byte
      // budget. Without the cap the r17 segchurn curve grows linearly
      // in live segments forever (nothing evicts without an explicit
      // flush); with it, peak resident bytes must stay bounded by the
      // budget while every query still answers (evicted segments
      // recompute lazily). Prints segs / residentBytes / evictions /
      // block-manager delta every 25 queries.
      import graft.olap.{Mdx, SegmentCache}
      val cube = graft.Cubes.sales(spark, "/root/testdata/sf0.1")
      val sc = spark.sparkContext
      def storage: Long =
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      // r19: each query runs under a read lease (the serving posture —
      // executeResult does the same): its segments pin against budget
      // eviction until the query's actions finish, so the soak now
      // also proves the plateau CONVERGES with pins active (leases
      // release between queries; pinnedSkips counts mid-query
      // deferrals)
      def mixedQ(where: String): Long = Harness.scoped {
        force(Mdx.execute(
          s"""SELECT {[Measures].[revenue]} ON COLUMNS,
             |  ORDER({[customer].[EUROPE],
             |         [customer].[EUROPE].[NATION_13],
             |         [customer].[ASIA],
             |         [customer].[ASIA].[NATION_2]},
             |        [Measures].[revenue], DESC) ON ROWS
             |FROM [Sales] WHERE ($where)""".stripMargin, cube))
      }
      val c = SegmentCache.global
      c.clear()
      // ~2 KB/segment at sf0.1 (grain-sized, r17 segchurn) — a 256 KiB
      // budget forces steady eviction well before the 200th query
      val budget = 256L * 1024
      c.setByteBudget(budget)
      val bytes0 = storage
      val quarters = (1995 to 2001).flatMap(y =>
        (1 to 4).map(q => s"[time].[$y].[$y-Q$q]"))
      val slicers = ((1995 to 2001).map(y => s"[time].[$y]") ++
        quarters ++
        quarters.flatMap(q => Seq("A", "N", "R").map(f =>
          s"$q, [returnflag].[$f]")) ++
        quarters.flatMap(q => Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW").map(p =>
          s"$q, [priority].[$p]"))).take(200)
      var peak = 0L
      slicers.zipWithIndex.foreach { case (w, i) =>
        mixedQ(w)
        peak = math.max(peak, c.residentBytes)
        if ((i + 1) % 25 == 0)
          println(f"after ${i + 1}%3d distinct queries: segs=${c.size}%3d " +
            f"resident=${c.residentBytes}%d evictions=${c.evictions}%d " +
            f"blockDelta=${storage - bytes0}%d")
      }
      println(f"peak resident=$peak%d (budget=$budget%d) " +
        f"segs=${c.size} evictions=${c.evictions} " +
        f"pinnedSkips=${c.pinnedSkips}")
      assert(peak <= budget * 2,
        s"peak resident bytes $peak must stay near the $budget budget " +
          "(2x slack: one oversized in-flight segment may overshoot " +
          "before the post-insert enforcement)")
      // evicted segments recompute fine: re-run the first slicer cold
      mixedQ(slicers.head)
      c.setByteBudget(0L) // restore unlimited
      c.clear()
      println("seglru: OK")
    }

    if (branch == "servesoak") {
      // r19: multi-thread serving soak — 8 threads hammer ONE
      // BoundCube through a pool of mixed query shapes (persisted
      // groupBy segments, CHECKPOINTED mixed-depth cut segments,
      // dim-calc fused axes, window/topcount) under a 1-byte budget,
      // every query leased (the executeResult posture). Eviction runs
      // constantly and concurrently; the CacheSpec smoke is 2 threads
      // x 2 shapes — this is the load test: every result must equal
      // its serial run, no stage may fail, and the pinned-skip path
      // must actually fire. Each shape takes a year that varies per
      // iteration, so repeats of one statement stay rare and stored
      // cell sets (which serve a repeated statement without touching
      // its segments) cannot hide the segment churn.
      import graft.olap.{Mdx, Query, SegmentCache,
        LevelMembers, Members, MemberSlice}
      val cube = graft.Cubes.sales(spark, "/root/testdata/sf0.1")
      val c = SegmentCache.global
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val years = Seq(1995, 1996, 1997, 1998, 1999)
      val shapes: Seq[(String, Int => Seq[String])] = Seq(
        "nation_rev" -> (y => canon(Query.from(cube)
          .columns("revenue")
          .rows(LevelMembers("customer", "nation"))
          .where(MemberSlice("time", Seq(y))).execute())),
        "mixed_cut" -> (y => canon(Mdx.execute(
          s"""SELECT {[Measures].[revenue]} ON COLUMNS,
            |  ORDER({[customer].[EUROPE],
            |         [customer].[EUROPE].[NATION_13],
            |         [customer].[ASIA]},
            |        [Measures].[revenue], DESC) ON ROWS
            |FROM [Sales] WHERE ([time].[$y])""".stripMargin, cube))),
        "dimcalc" -> (y => canon(Mdx.execute(
          s"""WITH MEMBER [customer].[EU and AS] AS
            |  'Aggregate({[customer].[EUROPE], [customer].[ASIA]})'
            |SELECT {[Measures].[revenue]} ON COLUMNS,
            |  {[customer].[AMERICA], [customer].[EU and AS]} ON ROWS
            |FROM [Sales] WHERE ([time].[$y])""".stripMargin, cube))),
        "sliced_part" -> (y => canon(Query.from(cube)
          .columns("sum_qty")
          .rows(LevelMembers("part", "brand"))
          .where(MemberSlice("customer", Seq("ASIA")),
            MemberSlice("time", Seq(y))).execute())),
        "topcount" -> (y => canon(Mdx.execute(
          s"""SELECT {[Measures].[revenue]} ON COLUMNS,
            |  TOPCOUNT([customer].[nation].Members, 5,
            |    [Measures].[revenue]) ON ROWS
            |FROM [Sales] WHERE ([time].[$y])""".stripMargin, cube))),
        "literal_set" -> (y => canon(Query.from(cube)
          .columns("revenue")
          .rows(Members("customer",
            Seq(Seq("ASIA"), Seq("ASIA", "NATION_2"))))
          .where(MemberSlice("time", Seq(y))).execute())),
        "year_flag" -> (y => canon(Mdx.execute(
          s"""SELECT {[Measures].[revenue], [Measures].[sum_qty]}
            |  ON COLUMNS,
            |  CROSSJOIN({[time].[$y], [time].[${y + 1}]},
            |            {[returnflag].[A], [returnflag].[N]}) ON ROWS
            |FROM [Sales]""".stripMargin, cube))),
        "ytd_like" -> (y => canon(Mdx.execute(
          s"""SELECT {[Measures].[revenue]} ON COLUMNS,
            |  {[time].[$y].Children} ON ROWS
            |FROM [Sales] WHERE ([customer].[EUROPE])""".stripMargin,
          cube))))
      val nThreads = 8; val iters = 25
      // iteration i of thread t runs shape (t + i) and year i / 8 + t:
      // 200 queries over 40 distinct statements
      def stmt(tid: Int, i: Int): (Int, Int) =
        ((tid + i) % shapes.length, years((i / shapes.length + tid) %
          years.length))
      val statements = (for (t <- 0 until nThreads; i <- 0 until iters)
        yield stmt(t, i)).distinct
      // serial ground truth per distinct statement, unlimited budget
      c.clear(); c.setByteBudget(0L)
      val serial = statements.map { case (si, y) =>
        (si, y) -> Harness.scoped { shapes(si)._2(y) } }.toMap
      c.clear()
      // 1-byte budget = maximum churn: EVERY miss tries to evict every
      // materialized unpinned segment, so threads constantly evict
      // each other's working sets and recompute — only the leases
      // stand between a reader's in-flight stage and the eviction of
      // its checkpointed blocks (a 64 KiB first cut never evicted:
      // the 7-segment pool is ~10 KB resident)
      c.setByteBudget(1L)
      val ev0 = c.evictions; val skip0 = c.pinnedSkips
      val hits0 = c.cellSetHits
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val done = new java.util.concurrent.atomic.AtomicInteger
      val t0 = System.nanoTime()
      val threads = (0 until nThreads).map { tid =>
        new Thread(() => {
          var i = 0
          while (i < iters) {
            val (si, y) = stmt(tid, i)
            val name = s"${shapes(si)._1}@$y"
            try {
              val got = Harness.scoped { shapes(si)._2(y) }
              if (got != serial((si, y)))
                errs.add(s"t$tid i$i $name: result diverged " +
                  s"(${got.length} vs ${serial((si, y)).length} rows)")
            } catch { case t: Throwable =>
              errs.add(s"t$tid i$i $name: ${t.getClass.getSimpleName} " +
                s"${String.valueOf(t.getMessage).take(200)}")
            }
            done.incrementAndGet(); i += 1
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(600000))
      val secs = (System.nanoTime() - t0) / 1e9
      val evictions = c.evictions - ev0
      val pinnedSkips = c.pinnedSkips - skip0
      println(f"servesoak: ${done.get()}/${nThreads * iters} queries " +
        f"(${statements.length} statements) in $secs%.1f s, " +
        f"errors=${errs.size} evictions=$evictions " +
        f"pinnedSkips=$pinnedSkips cellsetHits=${c.cellSetHits - hits0} " +
        f"resident=${c.residentBytes} segs=${c.size} " +
        f"cellsetRecords=${c.cellSetRecords}")
      errs.forEach(e => println(s"  ERR $e"))
      assert(errs.isEmpty, s"${errs.size} concurrent failures")
      assert(evictions > 0 && pinnedSkips > 0,
        s"the soak must evict ($evictions) and defer pinned segments " +
          s"($pinnedSkips)")
      c.setByteBudget(0L); c.clear()
      println("servesoak: OK")
    }

    if (branch == "snapdup") {
      // snapshotClusterLabels on a HIGH-dup-mass corpus (VERDICT r10
      // #4): the per-snapshot fold reads the full last-gen label frame
      // and re-runs components over (label-edges ∪ new edges), so its
      // cost grows with accumulated duplicate mass. Corpus: 2.5k sf0.1
      // docs replicated 8× with the suffix-token convention — every
      // doc is an 8-clique of mutual near-dups (dup mass ≈ 7/8 of the
      // corpus, the stress ceiling), arriving interleaved across 12
      // ingest batches. Timed: every individual snapshot as history
      // grows, at publish-every-batch vs every-4 cadence.
      import graft.ops.DedupOps
      import graft.olap.Pins
      val base = docs.filter(col("doc_id") < 2500)
      val nb = base.count()
      val corpus = base.crossJoin(
          spark.range(8).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * lit(nb)).as("doc_id"),
          concat(col("text"), lit(" rep"), col("rep")).as("text"),
          col("source"), col("n_chars"))
        .repartition(32).persist()
      println(s"-- snapdup corpus docs=${corpus.count()} " +
        s"(8-clique dup mass)")
      val nAppends = 12
      def slice(r: Int) = corpus.filter(col("doc_id") % nAppends === r)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      for (snapEvery <- Seq(1, 4)) {
        val path = s"/tmp/graft_scale_snapdup_$snapEvery"
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        var idx: DedupOps.ClusterIndex = null
        var appendSec = 0.0; var snapSec = 0.0
        Pins.scoped {
          val t0 = System.nanoTime()
          idx = DedupOps.writeClusterIndex(slice(0), path)
          appendSec += (System.nanoTime() - t0) / 1e9
        }
        for (r <- 1 until nAppends) {
          Pins.scoped {
            val t0 = System.nanoTime()
            DedupOps.appendEdgesToClusterIndex(idx, slice(r), r.toLong)
            appendSec += (System.nanoTime() - t0) / 1e9
          }
          if (r % snapEvery == 0 || r == nAppends - 1) Pins.scoped {
            val dupMass = DedupOps.readClusterLabels(spark, path)
              .filter(col("doc_id") =!= col("cluster_id")).count()
            val t0 = System.nanoTime()
            DedupOps.snapshotClusterLabels(spark, idx)
            val dt = (System.nanoTime() - t0) / 1e9
            snapSec += dt
            println(f"   snap@batch=$r%-2d cadence=$snapEvery " +
              f"prior-label-edges=$dupMass%-6d $dt%5.2f s")
          }
        }
        println(f"   cadence=$snapEvery totals: appends $appendSec%6.2f s" +
          f"  snapshots $snapSec%6.2f s")
        // labels must equal the one-shot batch CC regardless of cadence
        val got = Pins.scoped {
          DedupOps.readClusterLabels(spark, path).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toMap }
        val expect = Pins.scoped {
          DedupOps.nearDupClusters(corpus).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toMap }
        require(got == expect,
          s"labels diverge at cadence $snapEvery: ${got.size} vs ${expect.size}")
      }
      corpus.unpersist()
    }
    spark.stop()
  }
}
