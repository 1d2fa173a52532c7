package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join / feature operators over event streams: the as-of
  * (point-in-time) join and rolling event-window features — the two
  * primitives feature-engineering pipelines run over interaction logs
  * before training.
  *
  * Both are deliberately ONE-shuffle shapes. The classic as-of
  * formulations Spark users reach for — a range join (explodes to a
  * per-pair cross within the key) or a per-row correlated subquery —
  * degrade quadratically on hot keys; the union-and-running-window form
  * here carries each event exactly once through a single exchange on
  * the join key, so a key with a million events costs one sorted
  * partition run, not 10^12 candidate pairs.
  */
object TimeOps {

  /** Latest-wins collapse of exact (`key`, `tsCol`) duplicates: keep
    * each payload column of the row with the highest `tieCol`.
    *
    * CONTRACT (r19 verdict/advice): `tieCol` MUST be unique within
    * every (`key`, `tsCol`) group. Each payload column takes an
    * independent `max_by(p, tie)`; with a DUPLICATED tie the columns
    * can each come from a DIFFERENT tied row, emitting a "torn" row
    * that never existed in the input — strictly worse than the old
    * struct form's pick-one-whole-row nondeterminism. Every caller in
    * this repo passes an event-id key (unique by schema). New callers
    * with a non-unique tie must either make the tie unique
    * (e.g. a monotonic ingest id) or revert to
    * `max_by(struct(tie, payload...), tie)` and accept its
    * SortAggregate plan. Setting `spark.graft.asof.tieCheck=true`
    * (BATCH frames only — it runs a blocking scan) makes the collapse
    * fail fast on a duplicate tie instead of emitting torn rows.
    *
    * Opt r19 (guide §1.2 step 2): the former single
    * `max_by(struct(tie, payload...), tie)` carried a STRUCT-typed
    * aggregation buffer, which is not UnsafeRow-mutable, so both
    * halves of the aggregate planned as SortAggregate — a full sort of
    * the right side on each side of the exchange. Per-payload
    * `max_by(p, tie)` buffers are scalar, so the collapse stays a
    * HashAggregate. With `tieCol` unique per (key, ts) group every
    * per-column max_by selects the same row, so the collapsed row is
    * identical to the struct form's.
    */
  private def latestWins(df: DataFrame, key: String, tsCol: String,
      tieCol: String, payload: Seq[String], prefix: String): DataFrame = {
    if (df.sparkSession.conf.getOption("spark.graft.asof.tieCheck")
        .contains("true") && !df.isStreaming) {
      val dup = df.groupBy(col(key), col(tsCol))
        .agg(count(col(tieCol)).as("__n"),
          count_distinct(col(tieCol)).as("__nd"))
        .filter(col("__n") > col("__nd"))
        .limit(1).count()
      require(dup == 0L,
        s"latestWins: duplicate $tieCol within a ($key, $tsCol) group " +
          "— per-payload max_by would mix columns from different tied " +
          "rows (torn row); see the latestWins contract")
    }
    val aggs = max(col(tieCol)).as("__tie") +:
      payload.map(p => max_by(col(p), col(tieCol)).as(s"$prefix$p"))
    df.groupBy(col(key), col(tsCol))
      .agg(aggs.head, aggs.tail: _*)
      .drop("__tie")
  }

  /** Point-in-time (as-of) join: for every row of `left`, attach the
    * payload of the most recent `right` row with the same `key` and
    * `right.tsCol <= left.tsCol` (inclusive, the ASOF JOIN convention).
    * Left rows with no prior right row keep NULL payloads (left-join
    * semantics); `rightTs` carries the matched row's timestamp.
    *
    * Right rows sharing an exact (key, timestamp) are first collapsed
    * to the one with the highest `tieCol` — without this the "latest
    * state at time t" is ill-defined and engines (and DuckDB's ASOF
    * JOIN oracle) would disagree on ties. `tieCol` must be UNIQUE
    * within each (key, ts) group — see the [[latestWins]] contract
    * (duplicate ties can emit torn rows; `spark.graft.asof.tieCheck`
    * fails fast).
    *
    * Lowering: tag each side, union, and take a running
    * `last(payload, ignoreNulls)` over (key ORDER BY ts, side) with
    * right rows sorting BEFORE left rows at equal timestamps (side 0
    * < 1 ⇒ inclusive match). One exchange on the key, one sort, zero
    * candidate-pair blowup: the standard merge-join-on-sorted-runs
    * shape, expressed declaratively so AQE still handles a skewed key
    * by splitting its sort spill, not its semantics.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, tieCol: String, payload: Seq[String]): DataFrame = {
    // NULL join keys never match — the window lowering would
    // otherwise group NULL-key rows into one partition and match them
    // to each other, where the bucketized equi-join variant and ASOF
    // SQL semantics (the DuckDB oracle) never match NULLs. Dropping
    // NULL-key right rows up front makes every lowering agree: a
    // NULL-key left row sees no right rows and gets a NULL __asof.
    // latest-wins collapse of exact (key, ts) ties on the right side;
    // max_by is a map-side-combinable aggregate, so the collapse rides
    // the same exchange budget as any groupBy on the key
    val rightUniq = latestWins(right.filter(col(key).isNotNull),
        key, tsCol, tieCol, payload, "__r_")
      .withColumnRenamed(tsCol, "__ts")
      .withColumn("__side", lit(0))
    val leftTagged = left.withColumn("__ts", col(tsCol))
      .withColumn("__side", lit(1))
    val unioned = leftTagged.drop(tsCol)
      .unionByName(rightUniq, allowMissingColumns = true)
    val w = Window.partitionBy(key)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE running struct of the whole matched right row — per-payload
    // last(ignoreNulls) columns would each skip backwards past a NULL
    // payload independently, stitching values from DIFFERENT right
    // rows (and disagreeing with ASOF semantics, the DuckDB oracle,
    // and the interval stream path, all of which carry the matched
    // row's NULL through). The struct is non-null for every right row
    // (its ts field is), so ignoreNulls only skips left rows.
    val enriched = unioned.withColumn("__asof",
      last(when(col("__side") === 0,
          struct(col("__ts").as("ts") +:
            payload.map(p => col(s"__r_$p").as(p)): _*)),
        ignoreNulls = true).over(w))
    enriched.filter(col("__side") === 1)
      .select(left.columns.filter(_ != tsCol).map(col) ++
        Seq(col("__ts").as(tsCol), col("__asof.ts").as("asof_ts")) ++
        payload.map(p => col(s"__asof.$p").as(s"asof_$p")): _*)
  }

  /** [[asOfJoin]] with bounded staleness: a match older than
    * `toleranceUs` microseconds at the left row's timestamp is nulled
    * out (the ASOF-with-tolerance convention — a "latest state" older
    * than the tolerance is treated as no state). Same one-exchange
    * lowering; the tolerance is a pure post-window projection.
    */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, tieCol: String, payload: Seq[String],
      toleranceUs: Long): DataFrame = {
    // Column exprs are late-bound: nulling asof_ts first would make a
    // staleness predicate over col("asof_ts") read the nulled value in
    // later withColumns. Materialize the flag once, null everything
    // off it, then drop it.
    val joined = asOfJoin(left, right, key, tsCol, tieCol, payload)
      .withColumn("__stale",
        unix_micros(col(tsCol)) - unix_micros(col("asof_ts")) >
          lit(toleranceUs))
    ("ts" +: payload).foldLeft(joined) { (df, p) =>
      df.withColumn(s"asof_$p",
        when(col("__stale"), lit(null)).otherwise(col(s"asof_$p")))
    }.drop("__stale")
  }

  /** Interval (range) containment join, bucketized: emit every
    * (probe, interval) pair with the same `key` and
    * `interval.startCol <= probe.tsCol < interval.endCol`.
    *
    * Spark lowers a raw `t >= s AND t < e` theta join to a
    * nested-loop/cartesian per key — quadratic on hot keys. Here both
    * sides are hashed into fixed `bucketUs` time buckets (an interval
    * explodes into the ⌈len/bucketUs⌉+1 buckets it overlaps, the probe
    * into exactly one), the join is a plain equi-join on (key, bucket),
    * and the containment predicate filters the bounded candidate set —
    * the standard interval-bucketing shape: shuffle carries each row
    * O(interval_len/bucket) times, never a per-key cross product.
    * Intervals longer than ~thousands of buckets should pre-split
    * upstream (their explode IS the data growth); `bucketUs` ≈ the
    * typical interval length minimizes total fan-out.
    */
  def rangeJoin(probe: DataFrame, intervals: DataFrame, key: String,
      tsCol: String, startCol: String, endCol: String,
      bucketUs: Long): DataFrame = {
    val p = probe
      .withColumn("__b", expr(s"unix_micros($tsCol) div ${bucketUs}L"))
    val iv = intervals
      .withColumn("__b", explode(expr(
        s"sequence(unix_micros($startCol) div ${bucketUs}L, " +
          s"(unix_micros($endCol) - 1) div ${bucketUs}L)")))
    p.join(iv, Seq(key, "__b"))
      .filter(unix_micros(col(tsCol)) >= unix_micros(col(startCol)) &&
        unix_micros(col(tsCol)) < unix_micros(col(endCol)))
      .drop("__b")
  }

  /** The static "state interval" table a STREAMING as-of join probes:
    * each right row becomes the half-open validity interval
    * [ts, min(next ts, ts + tolerance]] during which it IS the latest
    * state (exact-timestamp ties collapsed latest-wins first, like
    * [[asOfJoin]]; `tieCol` must be unique per (key, ts) group — see
    * the [[latestWins]] contract). Interval ends are micros longs; the
    * tolerance cap is what keeps a later bucket-explosion bounded — an
    * uncapped last interval would be open-ended.
    */
  def asOfStateIntervals(right: DataFrame, key: String, tsCol: String,
      tieCol: String, payload: Seq[String],
      toleranceUs: Long): DataFrame = {
    val uniq = latestWins(right, key, tsCol, tieCol, payload, "asof_")
      .withColumnRenamed(tsCol, "asof_ts")
    val w = Window.partitionBy(key).orderBy(col("asof_ts").asc)
    uniq
      .withColumn("t_start_us", unix_micros(col("asof_ts")))
      .withColumn("t_end_us", least(
        coalesce(unix_micros(lead(col("asof_ts"), 1).over(w)),
          lit(Long.MaxValue)),
        col("t_start_us") + lit(toleranceUs) + lit(1L)))
  }

  /** As-of join against a pre-built [[asOfStateIntervals]] table via
    * the bucketized equi-join — the STREAM-SAFE lowering: the probe
    * side needs only a map-side bucket column (no window, no state),
    * the interval side is static and explodes into its
    * ≤ tolerance/bucket + 1 overlapped buckets, and the left join on
    * (key, bucket) + containment finds the unique covering interval
    * (intervals within a key are disjoint by construction). Probe rows
    * with no in-tolerance state keep NULL payloads — exactly
    * [[asOfJoinTolerance]]'s semantics, so stream and batch agree
    * row-for-row.
    */
  def asOfJoinBucketed(left: DataFrame, intervals: DataFrame,
      key: String, tsCol: String, payload: Seq[String],
      bucketUs: Long): DataFrame = {
    val iv = intervals.withColumn("__b", explode(expr(
      s"sequence(t_start_us div ${bucketUs}L, " +
        s"(t_end_us - 1) div ${bucketUs}L)")))
      .withColumnRenamed(key, "__rk")
    val p = left
      .withColumn("__t", expr(s"unix_micros($tsCol)"))
      .withColumn("__b", expr(s"unix_micros($tsCol) div ${bucketUs}L"))
    p.join(iv,
        p("__b") === iv("__b") && col(key) === col("__rk") &&
          col("__t") >= col("t_start_us") && col("__t") < col("t_end_us"),
        "left_outer")
      .select(left.columns.map(col) ++ (col("asof_ts") +:
        payload.map(pc => col(s"asof_$pc"))): _*)
  }

  /** Rolling event-window features per key, ordered by (ts, tieCol):
    * the gap to the previous event and count/sum of `valCol` over the
    * trailing `lookback` events (excluding the current one) — the lag
    * features a behavioural model trains on. The sum is accumulated in
    * decimal so the ≤`lookback`-term addition is exact and
    * engine-portable; the frame order is total (timestamp then
    * tie-break), so every value is deterministic.
    *
    * One exchange on the key; frames are ROWS-bounded, so each
    * partition run holds a `lookback`-row ring buffer — memory is
    * O(lookback) per task regardless of key size.
    */
  def rollingFeatures(events: DataFrame, key: String, tsCol: String,
      tieCol: String, valCol: String, lookback: Int): DataFrame = {
    val order = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val trail = order.rowsBetween(-lookback, -1)
    events.select(col(tieCol), col(key), col(tsCol), col(valCol))
      .withColumn("gap_us",
        unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(order)))
      .withColumn("roll_n", count(col(valCol)).over(trail))
      .withColumn("roll_sum",
        sum(col(valCol).cast("decimal(38,10)")).over(trail)
          .cast("double"))
      .select(col(tieCol), col(key), unix_micros(col(tsCol)).as("ts_us"),
        col("gap_us"), col("roll_n"), col("roll_sum"))
  }
}
