package graft

import org.apache.spark.sql.functions._
import graft.olap._
import graft.sources.Sources

/** Format parity: the same cube definition over CSV / JSON / ORC
  * sources answers queries identically to the parquet-backed cube
  * (the reference's one-schema-many-databases contract).
  */
class SourcesSpec extends SparkSpec {

  private def eventsCubeOver(
      fact: org.apache.spark.sql.DataFrame): BoundCube = {
    val withKey = fact.withColumn("l_datekey", to_date(col("ts")))
    BoundCube("EventsX", withKey,
      dims = Seq(BoundDim("event_type",
        foreignKey = "event_type", primaryKey = "event_type",
        levels = Seq(BoundLevel("event_type", "event_type")),
        df = withKey.select("event_type").distinct(),
        degenerate = true)),
      measures = Seq(
        Measure("n_events", Agg.Count, "1"),
        Measure("sum_value", Agg.SumExact, "value")))
  }

  private def byType(cube: BoundCube): Map[String, (Long, BigDecimal)] =
    Query.from(cube).columns("n_events", "sum_value")
      .rows(LevelMembers("event_type", "event_type"))
      .execute().collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

  test("CSV, JSON and ORC sources answer identically to parquet") {
    val base = Tables.load(spark, Sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sources").toString
    val expected = byType(eventsCubeOver(base))
    assert(expected.nonEmpty)

    for (fmt <- Seq("csv", "json", "orc")) {
      Sources.write(base, s"$dir/events_$fmt", fmt)
      val schema = fmt match {
        case "orc" => None
        // row formats: take the exact schema from the parquet source
        case _ => Some(base.schema)
      }
      val back = Sources.load(spark, s"$dir/events_$fmt",
        Some(fmt), schema)
      assert(byType(eventsCubeOver(back)) === expected, s"format $fmt")
    }
  }

  test("JDBC source (embedded Derby) answers identically to parquet") {
    val base = Tables.load(spark, Sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val expected = byType(eventsCubeOver(base))
    val db = java.nio.file.Files
      .createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    // VARCHAR instead of Derby's default CLOB mapping so remote-side
    // predicates on the string column stay legal
    Sources.writeJdbc(base, url, "events_jdbc",
      Map("createTableColumnTypes" -> "event_type VARCHAR(64)"))
    val back = Sources.loadJdbc(spark, url, "events_jdbc")
    assert(byType(eventsCubeOver(back)) === expected)
    // the scale path: stride-partitioned parallel read — one remote
    // query per partition
    val parts = Sources.loadJdbc(spark, url, "events_jdbc", Map(
      "partitionColumn" -> "event_id", "lowerBound" -> "0",
      "upperBound" -> base.count().toString, "numPartitions" -> "4"))
    assert(parts.rdd.getNumPartitions === 4)
    assert(parts.count() === base.count())
  }

  test("events.ts normalizes to a sane session-zone timestamp " +
      "whatever parquet variant the generator shipped") {
    // The testdata generator has emitted events.ts as both INT64
    // TIMESTAMP(NANOS) (unreadable by Spark 4 except as a raw long)
    // and TIMESTAMP(MICROS) NTZ. Loading must yield TimestampType
    // with the true epoch either way — the r7 regression read micros
    // as nanos and collapsed every event onto 1970-01-01, silently
    // shrinking a (day × type) rollup from 150 rows to 5.
    val ts = Tables.load(spark, Sf, "events").select(col("ts"))
    assert(ts.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val years = ts.select(min(year(col("ts"))).as("lo"),
      max(year(col("ts"))).as("hi")).head()
    assert(years.getInt(0) > 2000, s"ts collapsed to ${years.getInt(0)}")
    assert(years.getInt(1) < 2100)
    // the streaming reader sees the identical column
    val streamed = graft.streaming.StreamingCube
      .eventStream(spark, Sf).schema("ts").dataType
    assert(streamed === org.apache.spark.sql.types.TimestampType)
  }

  test("testdata canary: every table loads with its key columns") {
    // The driver regenerates /root/testdata between rounds and has
    // already changed a column's physical type once (events.ts,
    // NANOS→MICROS — the r7 regression). This canary makes the NEXT
    // generator change fail loudly here instead of surfacing as a
    // cryptic mid-bench analysis error.
    val keyCols = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_regionkey", "n_name"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value"),
      "documents" -> Seq("doc_id", "text", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding"))
    Tables.names.foreach { t =>
      val df = Tables.load(spark, Sf, t)
      val missing = keyCols(t).filterNot(df.columns.contains)
      assert(missing.isEmpty,
        s"table $t lost expected columns $missing — testdata " +
          s"regenerated with a new schema? found: ${df.columns.toSeq}")
      assert(df.head(1).nonEmpty, s"table $t is empty")
    }
    // the two type-sensitive columns: the ANN family's native
    // expressions require array<float>, and text ops require a string
    import org.apache.spark.sql.types._
    assert(Tables.load(spark, Sf, "embeddings").schema("embedding")
      .dataType === ArrayType(FloatType),
      "embeddings.embedding is no longer array<float> — the vector " +
        "expressions (cosine_f32/dot_f32/argmin_sq/lsh_bits) type-check " +
        "against float arrays")
    assert(Tables.load(spark, Sf, "documents").schema("text")
      .dataType === StringType)
  }

  test("unknown formats raise a schema error") {
    val e = intercept[IllegalArgumentException] {
      Sources.load(spark, "/tmp/nope.xyz")
    }
    assert(e.getMessage.contains("unsupported source format"))
  }

  test("Tables.load infers each parquet schema once: a second load of a " +
      "file starts no job, and a rewritten file shows its new column") {
    import org.apache.spark.sql.graft.JobCount
    Tables.load(spark, Sf, "nation")
    val (again, jobs) =
      JobCount(spark.sparkContext)(Tables.load(spark, Sf, "nation"))
    assert(jobs === 0, "an unchanged file's schema must not be inferred again")
    assert(again.columns.contains("n_name"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tables").toString
    val t = spark.range(3).toDF("a")
    t.write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    t.withColumn("b", col("a") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.columns.toSeq === Seq("a", "b"))
    assert(rewritten.agg(sum("b")).head().getLong(0) === 6L)
  }
}
