package graft.rollup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core rollup / downsample operators, column-generic so they apply to any
  * long-format point table (one row per (series, timestamp): the
  * `events` fixture, or the synthesized `pages` stream).
  *
  * Semantics reproduce the reference pipeline's resample stage
  * (OPSD `time_series` main.ipynb: `df.resample('60min').mean()` plus
  * per-column `.sum()`/`.last()` policies, and `resample_markers` for the
  * marker column — SURVEY.md §2.4 A1–A3). Spark realization: hash
  * aggregation over `(series, floor(ts / period))`, which Catalyst executes
  * as partial (map-side) + final aggregation — the "two-phase windowed
  * aggregation" demanded by the north rule, with no custom code.
  *
  * Scale notes:
  *  - Tiers store algebraic partials `(sum, n)`; a higher tier aggregates
  *    the CHILD tier (hourly from 15-min partials, daily from hourly), so
  *    the raw table is read exactly once no matter how many tiers exist,
  *    and tier chaining is exact (no mean-of-means error).
  *  - All grouping keys are (series, bucket): with input partitioned by a
  *    series hash-bucket, AQE coalesces the post-shuffle side; a hot
  *    series is handled by the salted variant (see `saltedTier`).
  */
object TimeSeriesOps {

  /** Window start for a period, on an epoch-seconds column. Inputs are
    * non-negative epochs, so long division floors correctly.
    */
  def bucketStart(epochSec: Column, periodSec: Long): Column =
    bucketStart(epochSec, lit(periodSec))

  /** [[bucketStart]] with the period taken from a column, row by row. */
  def bucketStart(epochSec: Column, periodSec: Column): Column =
    (epochSec.cast("long") / periodSec).cast("long") * periodSec

  /** Tier-0 aggregation: raw points -> one row per (series, window) with
    * algebraic partials. `valueCol` must already be exact (integer-scaled)
    * when bitwise cross-engine match is required.
    *
    * Output: seriesCols ++ (bucket_ts, n, sum_v, mean_v).
    */
  def tier(
      points: DataFrame,
      seriesCols: Seq[String],
      epochCol: String,
      valueCol: String,
      periodSec: Long
  ): DataFrame = {
    points
      .groupBy((seriesCols.map(col) :+
        bucketStart(col(epochCol), periodSec).as("bucket_ts")): _*)
      .agg(
        count(col(valueCol)).as("n"),
        sum(col(valueCol)).as("sum_v")
      )
      .withColumn("mean_v", col("sum_v") / col("n"))
  }

  /** Chain a child tier up one level: hourly from 15-min, daily from hourly.
    * Exact because it sums the stored partials (sum of sums, sum of counts)
    * rather than averaging averages.
    */
  def chainTier(
      childTier: DataFrame,
      seriesCols: Seq[String],
      parentPeriodSec: Long
  ): DataFrame = {
    childTier
      .groupBy((seriesCols.map(col) :+
        bucketStart(col("bucket_ts"), parentPeriodSec).as("bucket_ts")): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v")
      )
      .withColumn("mean_v", col("sum_v") / col("n"))
  }

  /** Several tiers up from one child tier in ONE aggregation: every child
    * row is exploded over `parentPeriodsSec` (its index the `tier_idx`
    * column) and the rows are summed per (tier_idx, series, parent
    * bucket). The rows of index i are those of
    * `chainTier(childTier, seriesCols, parentPeriodsSec(i))`; when each
    * period divides the next they are also those of the chain that builds
    * each tier from the one before it, since exact partials sum in any
    * grouping.
    *
    * Output: tier_idx ++ seriesCols ++ (bucket_ts, n, sum_v, mean_v).
    */
  def chainTiers(
      childTier: DataFrame,
      seriesCols: Seq[String],
      parentPeriodsSec: Seq[Long]
  ): DataFrame =
    childTier
      .select((seriesCols.map(col) ++ Seq(col("bucket_ts"), col("n"), col("sum_v")) :+
        posexplode(typedLit(parentPeriodsSec)).as(Seq("tier_idx", "period"))): _*)
      .groupBy((col("tier_idx") +: seriesCols.map(col) :+
        bucketStart(col("bucket_ts"), col("period")).as("bucket_ts")): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v")
      )
      .withColumn("mean_v", col("sum_v") / col("n"))

  /** Salted two-phase aggregation for skewed series (the hot-domain case:
    * one domain can dominate a zipf-distributed crawl). Phase 1 aggregates
    * per (series, bucket, salt) — spreading one hot key over `salts`
    * reducers — phase 2 merges the partials without the salt. Algebraic
    * partials make the two-phase exactly equal to the direct aggregation.
    */
  def saltedTier(
      points: DataFrame,
      seriesCols: Seq[String],
      epochCol: String,
      valueCol: String,
      periodSec: Long,
      salts: Int,
      saltSource: String
  ): DataFrame = {
    val salted = points.withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(salts)))
    val phase1 = salted
      .groupBy((seriesCols.map(col) :+
        bucketStart(col(epochCol), periodSec).as("bucket_ts") :+
        col("_salt")): _*)
      .agg(count(col(valueCol)).as("n"), sum(col(valueCol)).as("sum_v"))
    phase1
      .groupBy((seriesCols.map(col) :+ col("bucket_ts")): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"))
      .withColumn("mean_v", col("sum_v") / col("n"))
  }

  /** Marker resample (reference `resample_markers`/`glue_markers`):
    * sorted, deduped union of marker arrays within the parent window.
    * `sort_array` makes the result deterministic under any partitioning.
    */
  def rollupMarkers(markersCol: Column): Column =
    sort_array(array_distinct(flatten(collect_list(markersCol))))

  /** Render a marker array the way the reference renders its
    * `interpolated_values` column: entries joined by " | ".
    */
  def renderMarkers(markersCol: Column): Column =
    concat_ws(" | ", markersCol)

  /** Priority de-duplication (reference `~index.duplicated()` on DST
    * doubles / file overlaps — SURVEY.md §2.2 P6): keep, per (series, ts),
    * the single row ranked first by `priority`.
    */
  def dedupe(
      df: DataFrame,
      keyCols: Seq[String],
      priority: Column
  ): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(priority)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Priority patch (reference `combine_first` — SURVEY.md §2.3 J3): keep
    * the left value where present, fill from the right. Realized as a
    * full-outer join on the key + `coalesce`, which Catalyst plans as a
    * shuffle join on the (already co-partitioned) series keys.
    */
  def combineFirst(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      valueCol: String
  ): DataFrame = {
    val l = left.select((keyCols.map(col) :+ col(valueCol).as("_lv")): _*)
    val r = right.select((keyCols.map(col) :+ col(valueCol).as("_rv")): _*)
    l.join(r, keyCols, "full_outer")
      .withColumn(valueCol, coalesce(col("_lv"), col("_rv")))
      .withColumn("patched", col("_lv").isNull && col("_rv").isNotNull)
      .drop("_lv", "_rv")
  }

  /** As-of join: attach to each left row the LATEST right observation at
    * or before its timestamp (ties include the observation) within
    * `toleranceSec`, per key — "what was the last completed rollup when
    * this event arrived". Appends `asof_ts` plus `asof_<v>` for every
    * value column (all null when no in-tolerance observation exists).
    *
    * Spark-first, skew-safe shape: tag + union + ONE window pass
    * partitioned by (key, TIME BUCKET) — never by the key alone, whose
    * cardinality may be tiny (a 5-key corpus would serialize on 5 tasks).
    * Cross-bucket carry-in is resolved on the per-(key, bucket) TAIL
    * table (one row per bucket — thousands of rows, not billions), then
    * broadcast back. Total cost: one shuffle+sort of |L|+|R| rows on
    * (key, bucket) + a partial-agg pass — no inequality join (which
    * Catalyst would plan as a nested-loop blow-up).
    *
    * Contract: right rows unique per (keys, ts), right values non-null.
    *
    * The carry table is one row per key x time-bucket. For series-level
    * keys that is broadcast-sized; for user-level keys it may not be, so
    * the carry join is SIZE-GUARDED: `carryBroadcastMaxRows` > 0 probes
    * the carry cardinality with one cheap partial-agg job and broadcasts
    * only when it fits, falling back to a shuffle join on (keys, bucket)
    * otherwise (same result — TierSpec asserts both paths). Pass 0 to
    * always shuffle, or a negative value to skip the probe and always
    * broadcast (caller asserts bounded keys).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      valueCols: Seq[String],
      toleranceSec: Long,
      bucketSec: Long = 86400L,
      carryBroadcastMaxRows: Long = 4000000L
  ): DataFrame = {
    require(valueCols.nonEmpty, "asofJoin needs at least one value column")
    val leftCols = left.columns.toSeq
    // output names are part of the API and must not silently replace
    // caller columns (withColumn would)
    val outNames = "asof_ts" +: valueCols.map(v => s"asof_$v")
    val outClash = leftCols.filter(outNames.contains)
    require(outClash.isEmpty,
      s"asofJoin output column(s) ${outClash.mkString(", ")} already exist in left")
    // helper names derived collision-free: no input column starts with
    // `pfx`, so every `${pfx}...` helper is fresh on both sides
    val reserved = (left.columns ++ right.columns).toSet
    val pfx = {
      var t = "_"
      while (reserved.exists(_.startsWith(t))) t += "g"
      t
    }
    val atsC = s"${pfx}ats"; val islC = s"${pfx}is_l"; val bktC = s"${pfx}bkt"
    val inTsC = s"${pfx}in_ts"; val tLastC = s"${pfx}t_last"
    val cTsC = s"${pfx}c_ts"
    def rvC(v: String) = s"${pfx}rv_$v"
    def inC(v: String) = s"${pfx}in_$v"
    def vC(v: String) = s"${pfx}v_$v"
    def cC(v: String) = s"${pfx}c_$v"
    val rSel = right.select(
      (keyCols.map(col) :+ col(rightTsCol).cast("long").as(atsC)) ++
        valueCols.map(v => col(v).as(rvC(v))): _*)
    val lAligned = valueCols.foldLeft(
        left.withColumn(atsC, col(leftTsCol).cast("long"))
          .withColumn(islC, lit(1))) { (d, v) =>
        d.withColumn(rvC(v), lit(null).cast(rSel.schema(rvC(v)).dataType))
      }
    val rAligned = leftCols.filterNot(keyCols.contains).foldLeft(
        rSel.withColumn(islC, lit(0))) { (d, c) =>
        d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val u = lAligned
      .unionByName(rAligned.select(lAligned.columns.map(col).toIndexedSeq: _*))
      .withColumn(bktC, floor(col(atsC) / bucketSec).cast("long"))
    // within-bucket running carry (right rows sort before left ties)
    val wb = Window.partitionBy((keyCols :+ bktC).map(col): _*)
      .orderBy(col(atsC), col(islC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = valueCols.foldLeft(
        u.withColumn(inTsC,
          last(when(col(islC) === 0, col(atsC)), ignoreNulls = true)
            .over(wb))) { (d, v) =>
        d.withColumn(inC(v), last(col(rvC(v)), ignoreNulls = true).over(wb))
      }
    // per-(key, bucket) tails of the right side, over ALL buckets present.
    // When the broadcast guard probes its size (the default path), the
    // frame is persisted FIRST so the probe's count and the carry's later
    // evaluation share one aggregation pass instead of each re-running the
    // full union + group-by lineage. tails is key x bucket sized — orders
    // of magnitude smaller than the inputs — so the pinned footprint is
    // negligible and LRU-evicted once idle (same contract as the pinned
    // signature table in TextOps.minhashNearDups).
    val probeNeeded = carryBroadcastMaxRows > 0
    val tails0 = u.groupBy((keyCols :+ bktC).map(col): _*)
      .agg(
        max(when(col(islC) === 0, col(atsC))).as(tLastC),
        valueCols.map(v =>
          max_by(col(rvC(v)), when(col(islC) === 0, col(atsC)))
            .as(vC(v))): _*)
    val tails = if (probeNeeded) tails0.persist() else tails0
    // carry-in = latest tail of any STRICTLY EARLIER bucket (one row per
    // key x bucket)
    val wc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(bktC))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = valueCols.foldLeft(
        tails.withColumn(cTsC, last(col(tLastC), ignoreNulls = true).over(wc))) {
        (d, v) => d.withColumn(cC(v), last(col(vC(v)), ignoreNulls = true).over(wc))
      }
      .select((keyCols :+ bktC).map(col) ++
        (col(cTsC) +: valueCols.map(v => col(cC(v)))): _*)
    val doBroadcast =
      carryBroadcastMaxRows < 0 ||
        (carryBroadcastMaxRows > 0 &&
          tails.select((keyCols :+ bktC).map(col): _*).count() <=
            carryBroadcastMaxRows)
    val carrySide = if (doBroadcast) broadcast(carry) else carry
    val joined = inBucket.filter(col(islC) === 1)
      .join(carrySide, keyCols :+ bktC, "left")
    val asofTs = coalesce(col(inTsC), col(cTsC))
    val inTol = asofTs.isNotNull && (col(atsC) - asofTs) <= toleranceSec
    val out = valueCols.foldLeft(
        joined.withColumn("asof_ts", when(inTol, asofTs))) { (d, v) =>
        d.withColumn(s"asof_$v",
          when(inTol, when(col(inTsC).isNotNull, col(inC(v)))
            .otherwise(col(cC(v)))))
      }
    out.select((leftCols.map(col) :+ col("asof_ts")) ++
      valueCols.map(v => col(s"asof_$v")): _*)
  }

  /** Trailing rolling aggregate over a TIME RANGE (not a row count): for
    * each tier row, count/sum/mean of `valueCol` over
    * [ts - windowSec + 1, ts] within its series — a RANGE window, so
    * missing buckets shorten the trailing set instead of silently
    * stretching it. Runs over TIER rows (bounded: one row per bucket per
    * series), so per-series window partitions stay small even at raw-data
    * scales where per-key windows over events would skew.
    */
  def rollingWindow(
      df: DataFrame,
      seriesCols: Seq[String],
      epochCol: String,
      valueCol: String,
      windowSec: Long
  ): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy(col(epochCol).cast("long"))
      .rangeBetween(-(windowSec - 1), Window.currentRow)
    df.withColumn("roll_n", count(col(valueCol)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
  }

  /** Gap-based sessionization: per key, a new session starts when the gap
    * to the previous event exceeds `gapSec`; emits `session_seq`
    * (1-based per key, in (ts, tiebreak) order). One window pass
    * partitioned by the key — keys are high-cardinality entities (users),
    * so the partitions are small and many; the lag and the running sum
    * share one sort.
    */
  def sessionize(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tiebreakCol: String,
      gapSec: Long
  ): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_sess",
        (col("_prev_ts").isNull ||
          (col(tsCol) - col("_prev_ts")) > gapSec).cast("long"))
      .withColumn("session_seq", sum(col("_new_sess")).over(wRun))
      .drop("_prev_ts", "_new_sess")
  }

  /** Lead/trail trim (reference drops all-NaN head/tail rows — P4):
    * per series, the first/last non-null timestamp and non-null count.
    */
  def trimStats(
      df: DataFrame,
      seriesCols: Seq[String],
      epochCol: String,
      valueCol: String
  ): DataFrame =
    df.groupBy(seriesCols.map(col): _*)
      .agg(
        min(when(col(valueCol).isNotNull, col(epochCol))).as("first_ts"),
        max(when(col(valueCol).isNotNull, col(epochCol))).as("last_ts"),
        count(col(valueCol)).as("n_obs"),
        count(lit(1)).as("n_rows")
      )

  /** Range (interval) join: point rows matched to the intervals that
    * contain them — `start <= ts < end` per key (half-open, the
    * time-series idiom). The naive inequality join plans a
    * BroadcastNestedLoopJoin (O(points × intervals) compared pairs, one
    * broadcast side — dead at crawl scale). Instead each interval
    * EXPLODES into the fixed-width time buckets it overlaps and points
    * join on (key…, bucket) EQUI-keys with the range as a residual
    * predicate: the shuffle hash-partitions on (key, bucket), Catalyst
    * plans a hash/sort-merge join (PlansSpec-asserted), and each point
    * meets only the intervals overlapping its own bucket. `bucketSec`
    * trades interval fan-out against join selectivity — pick it near
    * the typical interval length so the explode factor stays O(1); a
    * point matches a given interval in exactly ONE bucket (its own), so
    * no post-join dedup is needed.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      startCol: String,
      endCol: String,
      bucketSec: Long
  ): DataFrame = {
    val ivs = intervals
      .filter(col(endCol) > col(startCol)) // empty intervals match nothing
      .withColumn("_rj_bucket", explode(expr(
        s"sequence($startCol div $bucketSec, ($endCol - 1) div $bucketSec)")))
    val pts = points.withColumn("_rj_bucket", expr(s"$tsCol div $bucketSec"))
    pts.join(ivs, keyCols :+ "_rj_bucket",  "inner")
      .filter(col(startCol) <= col(tsCol) && col(tsCol) < col(endCol))
      .drop("_rj_bucket")
  }
}
