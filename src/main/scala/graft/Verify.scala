package graft
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Decimal normalization: the driver's hash compare normalizes FLOAT
  * values on both sides but stringifies DECIMALs raw, so a Spark
  * DECIMAL(38,10) result never hash-matches a DuckDB DECIMAL(38,2)
  * oracle even when numerically identical (r2: all 40 hash_match=false
  * queries had a decimal output column; all double-only queries
  * matched). Internally the engine keeps exact decimal sums; here, at
  * the verify boundary only, every decimal output column is cast to
  * DOUBLE on the Spark side AND the oracle SQL is wrapped with the
  * matching CAST(... AS DOUBLE) — both engines cast the same exact
  * decimal, so the doubles are bit-identical. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev iteration —
    // the driver always invokes with exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Harness.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Decimal output columns per query, collected while writing — used
    // below to wrap the corresponding oracle SQL with identical casts.
    val decimalCols = scala.collection.mutable.Map.empty[String, Seq[String]]
    // Double output columns per query: every double is rounded to 9
    // decimals on BOTH sides at this boundary. The r8 lesson
    // (q_eval_overlap): engines can disagree by one ulp on derived
    // floats (DuckDB's decimal→double cast, log/division chains), and
    // the driver's float-hash normalization convention is not ours to
    // rely on — a 9-dp decimal has a short, formatting-stable
    // representation both engines produce bit-identically.
    // tools/check_strict.py's repr-level guard verifies the class is
    // closed (13 queries were exposed before this wrap).
    val doubleCols = scala.collection.mutable.Map.empty[String, Seq[String]]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // the write (the query's action) runs inside the scope, so each
      // query's persists release as soon as its parquet is on disk
      try Harness.scoped {
        val raw = fn(spark, sfDir)
        val decs = raw.schema.fields.collect {
          case f if f.dataType.isInstanceOf[DecimalType] => f.name
        }.toSeq
        decimalCols(name) = decs
        // decimal columns: round at the DECIMAL level (exact in both
        // engines at any magnitude), THEN cast to double — rounding
        // the cast double instead would reintroduce ulp skew on large
        // values (DuckDB's double round multiplies through 1e9, lossy
        // past ~9e6)
        val afterDec = if (decs.isEmpty) raw
          else raw.select(raw.columns.map { c =>
            if (decs.contains(c))
              round(col(c), 9).cast(DoubleType).as(c)
            else col(c)
          }.toIndexedSeq: _*)
        val dbls = afterDec.schema.fields
          .collect { case f if f.dataType == DoubleType => f.name }.toSeq
        doubleCols(name) = dbls
        val out = afterDec.select(afterDec.columns.map { c =>
          if (dbls.contains(c) && !decs.contains(c))
            round(col(c), 9).as(c)
          else col(c)
        }.toIndexedSeq: _*)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Wrap each oracle whose Spark result had decimal columns so DuckDB
    // casts the same columns to DOUBLE; all other columns pass through.
    def wrap(name: String, sql: String): String = {
      val decs = decimalCols.getOrElse(name, Nil)
      val repl = doubleCols.getOrElse(name, Nil).map { c =>
        // Via VARCHAR for decimal columns: DuckDB's direct
        // decimal→double cast divides the int128 mantissa in floating
        // point and can be 1 ulp off the correctly-rounded value
        // (e.g. 57930166.7369 → …6.736899994); string→double parsing
        // is correctly rounded and therefore bit-identical to Spark's
        // BigDecimal.doubleValue() of the same exact decimal. Every
        // double column then gets the same 9-dp rounding the Spark
        // side applied — one convention for the whole battery.
        if (decs.contains(c))
          s"""CAST(CAST(round("$c", 9) AS VARCHAR) AS DOUBLE) AS "$c""""
        else
          // native doubles take the SAME exact route Spark's round
          // does (shortest-repr string → exact decimal → HALF_UP →
          // double): DuckDB's double round multiplies through 1e9 and
          // is lossy past ~9e6 (verified: 298756523.9411 →
          // …94110006), so it must never touch a value headed for a
          // hash compare. NaN/±Inf pass through — DECIMAL can't hold
          // them and Spark's round leaves them unchanged too. So do
          // values with |x| >= 1e18: DECIMAL(38,17) holds only 21
          // integer digits and DuckDB hard-errors the cast at 1e21,
          // while 9-dp rounding is a no-op at that magnitude anyway
          // (doubles past 2^63 have ulp >> 1), so pass-through is both
          // safe and value-preserving.
          s"""CASE WHEN NOT isfinite("$c") OR abs("$c") >= 1e18 """ +
            s"""THEN "$c" ELSE """ +
            s"""CAST(CAST(round(CAST(CAST("$c" AS VARCHAR) AS """ +
            s"""DECIMAL(38,17)), 9) AS VARCHAR) AS DOUBLE) END AS "$c""""
      }
      if (repl.isEmpty) sql
      else s"""SELECT * REPLACE (${repl.mkString(", ")}) FROM ($sql) __graft_t"""
    }
    // restrict to the filtered set: an unfiltered query's decimalCols
    // was never populated, so emitting its oracle here would skip the
    // decimal->double wrap and hash-mismatch downstream tooling
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(wrap(k, v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
