package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.olap.{Ords, Pins}
import graft.ops.{CleanPipeline, DedupOps}

/** Lifecycle specs for the pinned-persist registry (VERDICT r6 #1/#7):
  * a long query sequence must hold storage occupancy to ONE query's
  * working set, and distributed numbering must stay exact whether or
  * not anything it touched is still resident (ADVICE r6 medium).
  */
class PinsSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, Sf, "documents")

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("a 20-query dedup sequence keeps storage bounded at the baseline") {
    // warm one scoped run first so lazily-built session caches (cubes,
    // registered functions) don't count against the pin accounting
    Pins.scoped { DedupOps.jaccardPairs(docs, 0.5).count() }
    val baseline = persistedCount
    for (i <- 1 to 20) {
      Pins.scoped {
        i % 4 match {
          case 0 => DedupOps.jaccardPairs(docs, 0.5).count()
          case 1 => DedupOps.minhashLsh(docs, 4, 2, 0.5).count()
          // 3 = the 4-band pigeonhole recall bound (larger now throws)
          case 2 => DedupOps.simhashPairs(docs, 3).count()
          case _ => CleanPipeline.clean(docs).count()
        }
      }
      // every pin the query created must be gone at the scope boundary:
      // occupancy is per-query, not session-age-proportional (the r6
      // official bench grew ~30 resident frames by q_pipeline_curate)
      assert(persistedCount <= baseline,
        s"iteration $i leaked persisted frames: $persistedCount > $baseline")
    }
  }

  test("global fallback stays FIFO-bounded when no scope is open") {
    Pins.releaseAll()
    val baseline = persistedCount
    // 40 unscoped pins of distinct tiny frames, each materialized so it
    // occupies storage: the registry must cap resident entries (excess
    // evicts oldest)
    for (i <- 1 to 40)
      Pins.pin(spark.range(i, i + 10L).toDF("n").persist()).count()
    assert(persistedCount <= baseline + 32,
      s"unscoped pins exceeded the cap: $persistedCount vs baseline $baseline")
    Pins.releaseAll()
    assert(persistedCount <= baseline)
  }

  test("scoped release never corrupts distributed numbering (consumers ran)") {
    // force the distributed path, collected inside the scope as a
    // query boundary does
    val n = 5000
    val df = spark.range(n.toLong).toDF("id")
      .withColumn("key", expr("cast(md5(cast(id as string)) as string)"))
    for (_ <- 1 to 3) {
      val rows = Pins.scoped {
        Ords.rowNumber(df, Seq(col("key")), "ord", Ords.Large)
          .select("ord").collect().map(_.getInt(0)).sorted
      }
      assert(rows.toSeq === (1 to n), "numbering must be a 1..n permutation")
    }
  }

  /** Runs `body` with exchange reuse off, so every consumer of a frame
    * plans and runs its own exchanges, as it does once a persist that
    * would have shared them is gone.
    */
  private def withoutExchangeReuse[T](body: => T): T = {
    val key = "spark.sql.exchange.reuse"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // 200k md5 keys over 8 input partitions: enough rows that two
  // independent range samplings pick different partition bounds
  private val nKeyed = 200000
  private def keyed = spark.range(0L, nKeyed.toLong, 1L, 8).toDF("id")
    .withColumn("key", md5(col("id").cast("string")))

  /** (key, value) rows of `df`, in key order. */
  private def byKey(df: DataFrame, value: String) =
    df.select(col("key"), col(value).cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).map(_._2)

  /** Fails with a one-line summary when `got` differs from `want`. */
  private def assertSame(got: Seq[Long], want: Seq[Long], what: String) = {
    val off = got.zip(want).count { case (g, w) => g != w }
    assert(off === 0 && got.size === want.size,
      s"$what: $off of ${want.size} rows wrong; ${got.distinct.size} " +
        s"distinct values, max ${got.max} (want ${want.max})")
  }

  test("distributed numbering is exact with its persist gone and no exchange reuse") {
    withoutExchangeReuse {
      // built in a scope and collected after it: nothing the build
      // pinned is resident when the frame runs
      val numbered = Pins.scoped {
        Ords.rowNumber(keyed, Seq(col("key")), "ord", Ords.Large)
      }
      assertSame(byKey(numbered, "ord").toSeq, 1L to nKeyed.toLong,
        "numbering in key order")
      // two consumers of the numbered frame agree on every row
      val a = numbered.select(col("key"), col("ord").as("a"))
      val b = numbered.select(col("key"), col("ord").as("b"))
      assert(a.join(b, "key").filter(col("a") =!= col("b")).count() === 0)
    }
  }

  test("distributed running sum is exact with its persist gone and no exchange reuse") {
    withoutExchangeReuse {
      val summed = Pins.scoped {
        Ords.runningSum(keyed.withColumn("v", col("id") % 5),
          Seq(col("key")), col("v"), "cum", Ords.Large)
      }
      // v = 1 gives the closed form cum = rank; v = id % 5 is checked
      // against a driver-side scan in key order
      val ones = Pins.scoped {
        Ords.runningSum(keyed, Seq(col("key")), lit(1), "cum", Ords.Large)
      }
      assertSame(byKey(ones, "cum").toSeq, 1L to nKeyed.toLong,
        "prefix of ones in key order")
      val want = byKey(keyed.withColumn("v", col("id") % 5), "v")
        .scanLeft(0L)(_ + _).tail
      assertSame(byKey(summed, "cum").toSeq, want.toSeq,
        "prefix of id % 5 in key order")
    }
  }

  test("scopes nest: inner frames release at inner exit, outer at outer") {
    Pins.releaseAll()
    val baseline = persistedCount
    Pins.scoped {
      val outer = Pins.pin(spark.range(100L).toDF("n").persist())
      outer.count()
      Pins.scoped {
        val inner = Pins.pin(spark.range(200L).toDF("m").persist())
        inner.count()
        assert(persistedCount >= baseline + 2)
      }
      // inner released, outer still resident
      assert(persistedCount == baseline + 1)
    }
    assert(persistedCount == baseline)
  }
}
