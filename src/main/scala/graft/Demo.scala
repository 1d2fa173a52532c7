package graft

import org.apache.spark.sql.functions.col
import graft.olap._

/** Smoke CLI: runs the flagship entry query + metadata API + an error-path
  * probe against sf0.001. `sbt "runMain graft.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)

    println("== flagship entry() ==")
    SparkEntry.entry(spark).show(false)

    val cube = Cubes.sales(spark, "/root/testdata/sf0.001")
    val meta = new CubeMetadata(cube)
    println(s"dims=${meta.dimensionNames}")
    println(s"customer levels=${meta.levelNames("customer")}")
    println(s"nation members count=${meta.membersCount("customer", "nation")}")
    println(s"member [EUROPE].[NATION_13] exists=" +
      meta.memberExists("customer", Seq("EUROPE", "NATION_13")))
    println(s"member [EUROPE].[NATION_99] exists=" +
      meta.memberExists("customer", Seq("EUROPE", "NATION_99")))

    println("== error probe: unknown level ==")
    try {
      Query.from(cube).columns("revenue")
        .rows(LevelMembers("customer", "galaxy")).execute()
      println("ERROR: no exception thrown")
    } catch {
      case e: IllegalArgumentException => println(s"ok: ${e.getMessage}")
    }

    println("== error probe: unknown dimension ==")
    try {
      Query.from(cube).columns("revenue")
        .rows(LevelMembers("warehouse", "bin")).execute()
      println("ERROR: no exception thrown")
    } catch {
      case e: IllegalArgumentException => println(s"ok: ${e.getMessage}")
    }

    println("== raw MDX (entry point A) ==")
    Mdx.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  TOPCOUNT([part].[brand].Members, 3, [Measures].[revenue])
        |    ON ROWS
        |FROM [Sales] WHERE ([time].[1995])""".stripMargin, cube).show(false)

    println("== cell-set Result with formatted values ==")
    val res = Query.from(cube)
      .columns("revenue", "sum_qty")
      .rows(LevelMembers("customer", "region"))
      .executeResult()
    res.rowAxis.zip(res.formattedValues)
      .foreach { case (m, v) => println(s"${m.mkString("/")} -> $v") }

    println("== profiled execute ==")
    val prof = Execution.profiled(Query.from(cube).columns("revenue")
      .rows(LevelMembers("customer", "nation")).execute())
    println(s"plan ${prof.profile.planMs}ms, " +
      s"execute ${prof.profile.executeMs}ms, rows=${prof.rows.length}")

    println("== pipeline: near-dup + ANN smoke ==")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    println(s"jaccard>=0.5 pairs: " +
      graft.ops.DedupOps.jaccardPairs(docs, 0.5).count())
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    println(s"ann top3 rows: " + graft.ops.SimilarityOps
      .bruteForceTopK(emb, emb.filter("vec_id < 2"), 3).count())

    println("== connection facade + parameters + pages ==")
    val conn = graft.olap.Connection.create(spark, "/root/testdata/sf0.001")
    val paged = conn.execute(
      """SELECT {[Measures].[revenue]} ON COLUMNS,
        |  [returnflag].[returnflag].Members ON ROWS,
        |  StrToSet(Parameter('regions', String,
        |    '{[customer].[ASIA], [customer].[EUROPE]}')) ON PAGES
        |FROM [Sales]""".stripMargin,
      Map("regions" -> "{[customer].[AFRICA]}"))
    println(s"pages grid rows=${paged.count()} " +
      s"cols=${paged.columns.mkString(",")}")

    println("== set-aggregate calc member ==")
    conn.execute(
      """WITH MEMBER [Measures].[h1_rev] AS
        |  Sum({[time].[1995].[1995-Q1] : [time].[1995].[1995-Q2]},
        |      [Measures].[revenue])
        |SELECT {[Measures].[revenue], [Measures].[h1_rev]} ON COLUMNS,
        |  [customer].[region].Members ON ROWS
        |FROM [Sales]""".stripMargin).show(3, truncate = false)

    println("== codegen'd vector expression + trained IVF cells ==")
    graft.functions.VectorExprs.register(spark)
    println("cosine_f32(self, self) = " + emb.limit(1)
      .selectExpr("cosine_f32(embedding, embedding)").collect()(0).get(0))
    println("kmeans cell sizes: " + graft.ops.SimilarityOps
      .kmeansCells(emb, k = 4, iters = 2).groupBy("cell").count()
      .orderBy("cell").collect().map(r => s"${r.get(0)}:${r.get(1)}")
      .mkString(" "))

    println("== Catalyst rule: declared-FK join elimination ==")
    graft.plans.GraftExtensions.install(spark)
    graft.plans.GraftExtensions.declareFk("l_orderkey", "o_orderkey")
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val pruned = spark.sql(
      """SELECT l_returnflag, sum(l_quantity) FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    println("join eliminated: " +
      !pruned.queryExecution.optimizedPlan.toString.contains("Join"))
    graft.plans.GraftExtensions.clearFks()

    println("== curation plan: cap rides WindowGroupLimit, packing is ==")
    println("== a range-partitioned prefix sum (no global window)     ==")
    val docsDf = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val capped = graft.ops.CurationOps.capPerSource(docsDf, 40)
    println("WindowGroupLimit planned: " +
      capped.queryExecution.executedPlan.toString
        .contains("WindowGroupLimit"))
    val packed = graft.ops.CurationOps.packShards(docsDf, 2000L,
      hint = graft.olap.Ords.Large)
    val pp = packed.queryExecution.executedPlan.toString
    println("distributed prefix sum: range-partitioned=" +
      pp.toLowerCase.contains("rangepartitioning") +
      " single-partition-hops=" +
      pp.linesIterator.count(_.contains("Exchange SinglePartition")))

    println("== dedup wave: bloom gate is map-only, cluster/semantic ==")
    println("== pair joins partition (never broadcast the corpus)    ==")
    val evalDocs = docsDf.filter(col("doc_id") < 250)
    val bf = graft.ops.DedupOps.buildBloom(evalDocs, 1000L, 8000L)
    val probePlan = graft.ops.DedupOps.bloomProbe(docsDf, bf)
      .queryExecution.executedPlan.toString
    println("bloom probe shuffle-free: " +
      !probePlan.contains("Exchange") +
      " codegen'd might_contain: " + probePlan.contains("might_contain"))
    val semPlan = graft.ops.SimilarityOps
      .semanticDedup(emb, k = 4, iters = 1, tau = 0.47)
      .queryExecution.executedPlan.toString
    println("semantic pair join partitioned on cell: " +
      semPlan.linesIterator.exists(l =>
        (l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")) &&
          l.contains("cell#")))
    val chain = {
      import spark.implicits._
      (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    }
    val nodes = {
      import spark.implicits._
      (0L to 64L).toDF("doc_id")
    }
    // driverEdgeLimit = 0 forces the distributed star rounds
    val stars = graft.ops.DedupOps.componentsAuto(chain, nodes,
        driverEdgeLimit = 0L)
      .groupBy("cluster_id").count().collect()
    println(s"distributed components on a 64-link chain: " +
      s"${stars.length} component(s), sizes=" +
      stars.map(_.getLong(1)).mkString(","))

    println("== explain: flagship plan ==")
    SparkEntry.entry(spark).explain("formatted")
    spark.stop()
  }
}
