package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a scaled-up copy of the sf0.1 corpus for the real-10×
  * scale run (SCALING.md "sf1"): `runMain graft.MakeScaledSf [mult]
  * [outDir]`, then `SPARK_GRAFT_SF_DIR=outDir runMain graft.Bench`.
  *
  * The scaling model is a TRUE sf1, not the replica-clique stress
  * corpora the in-memory probes use: 10× the data at the SAME
  * duplicate/near-dup RATE, so pair-producing operators see ~10× the
  * true output instead of ~100× (every replica of a doc being a mutual
  * near-dup). Concretely:
  *  - dimensions (region, nation, customer, supplier, part) stay FIXED
  *    — the 100 TB shape is fact ≫ dims, and the broadcast-dim star
  *    plans must hold as facts grow with dims pinned;
  *  - orders/lineitem replicate with orderkey offsets (orders ⋈
  *    lineitem stays 1:4, o_orderdate domain unchanged so the derived
  *    time dimension keeps its cardinality);
  *  - events replicate by USER shift — mult× users at fixed per-user
  *    history, the shape keyed windows meet in production;
  *  - documents replicate with every 3rd whitespace token tagged by a
  *    replica suffix: word-3-gram shingles never span 3 unmodified
  *    tokens, so replicas of the same doc share ZERO shingles (no
  *    cross-replica near-dup cliques) while within-replica exact-dup
  *    and near-dup structure is preserved verbatim;
  *  - embeddings replicate under a per-replica cyclic dimension shift:
  *    an orthogonal transform, so within-replica cosines are EXACT and
  *    cross-replica cosines are noise (measured mean ≈ 0, max ≈ 0.35 <
  *    the 0.47 near-dup threshold on this corpus).
  */
object MakeScaledSf {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    // the replica transforms are only valid on this interval: the
    // embedding cyclic shift slices at rep*6 (< 64 dims) and must stay
    // distinct per replica, and the token suffix is chr(97+rep) —
    // beyond it they would SILENTLY write a corrupt corpus
    require(mult >= 1 && mult <= 10,
      s"mult must be in [1, 10], got $mult (embedding shift and token " +
        "suffix geometry are derived for <= 10 replicas)")
    val outDir = args.lift(1).getOrElse(s"/tmp/graft_sf1")
    val srcDir = "/root/testdata/sf0.1"
    val spark = Harness.session(32)

    def reps: DataFrame =
      spark.range(mult).select(col("id").cast("int").as("rep"))
    // key offsets, from the actual sf0.1 domains (TESTDATA.md)
    val nOrders = 150000L
    val nDocs = 5000L
    val nVecs = 2000L
    val nUsers = 1500L
    val nEvents = 100000L

    // one parquet FILE per table, exactly the driver testdata layout —
    // consumers (the streaming stage-dir symlinks in particular) treat
    // `$dir/$table.parquet` as a file, not a directory of parts
    def write(name: String)(df: DataFrame): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val dest = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(tmp, true)
      println(s"$name: ${spark.read.parquet(dest.toString).count()} rows")
    }
    def t(name: String): DataFrame = Tables.load(spark, srcDir, name)

    // fixed dimensions: byte-identical copies
    for (d <- Seq("region", "nation", "customer", "supplier", "part"))
      write(d)(t(d))

    write("orders")(t("orders").crossJoin(reps).select(
      (col("o_orderkey") + col("rep") * nOrders).as("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")))

    write("lineitem")(t("lineitem").crossJoin(reps).select(
      (col("l_orderkey") + col("rep") * nOrders).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")))

    write("events")(t("events").crossJoin(reps).select(
      (col("event_id") + col("rep") * nEvents).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * nUsers).as("user_id"),
      col("event_type"), col("value"), col("props")))

    // every 3rd token gains a per-replica suffix (see scaladoc);
    // rep 0 keeps the original text so the base corpus is a subset
    write("documents")(t("documents").crossJoin(reps)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
        concat_ws(" ", expr(
          "transform(split(text, ' '), (w, i) -> " +
            "IF(i % 3 = 2, concat(w, 'zq', chr(97 + rep)), w))"))))
      .select(
        (col("doc_id") + col("rep") * nDocs).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars")))

    // cyclic dimension shift by rep * 6 (64-dim vectors; shifts stay
    // distinct for mult <= 10)
    write("embeddings")(t("embeddings").crossJoin(reps)
      .withColumn("embedding", when(col("rep") === 0, col("embedding"))
        .otherwise(expr(
          "concat(slice(embedding, rep * 6 + 1, 64 - rep * 6), " +
            "slice(embedding, 1, rep * 6))")))
      .select(
        (col("vec_id") + col("rep") * nVecs).as("vec_id"),
        col("embedding"), col("label")))

    spark.stop()
  }
}
