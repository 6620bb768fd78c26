package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact order statistics at scale: distinct-value cumulative histograms,
  * percentile_disc, and value-band (RANGE-frame) aggregates — all WITHOUT
  * sorting fact rows through an enum-key window.
  *
  * The classic formulations of these ops (`percentile_disc(q) OVER
  * (PARTITION BY flag)`, `sum(x) OVER (... RANGE BETWEEN w PRECEDING AND w
  * FOLLOWING)`) funnel every fact row of a group through ONE sort task —
  * fatal when the group key is a 3-value enum and the table is 100 TB. The
  * decomposition here keeps every per-row shuffle keyed on the
  * high-cardinality value itself:
  *
  *  1. reduce fact rows to the DISTINCT-VALUE table `(part, v) -> measures`
  *     (one map-side-combined shuffle on the value key; output cardinality
  *     is bounded by the VALUE DOMAIN, not the row count);
  *  2. bucket values into fixed-width ranges `b = ord DIV W` and run the
  *     running sums per `(part, bucket)` — partitions hold at most W
  *     distinct values however large the input grows;
  *  3. roll bucket totals up with one tiny prefix window over HISTOGRAM
  *     rows (O(domain / W) rows per part, independent of input rows) and
  *     add the bucket base back to the within-bucket running sums.
  *
  * The result is the exact inclusive cumulative `C(v) = Σ_{v' <= v}
  * measure(v')` for every distinct value, from which both percentile picks
  * (smallest v with cum >= k) and band sums (C(hi) - C(lo-1) via as-of
  * lookups) follow with joins keyed on the value — never a whole-group
  * sort. Values must have a non-negative integral order key (`ord`); for
  * doubles use a monotone integer mapping (e.g. cents) for bucketing while
  * ordering within buckets by the exact value.
  */
object OrderStats {

  /** Free the block-manager storage behind the shared distinct-value
    * checkpoint(s) a frame returned by this operator references — call
    * after materializing the result, or a caller looping
    * [[percentilesDisc]]/[[bandCountSum]] accumulates one domain-bounded
    * RDD per call until a global sweep (Bench/Verify/Profile) or the
    * GC-triggered ContextCleaner finds them.
    *
    * Unlike [[Dedup.release]] (ownership-only traversal: a plain
    * localCheckpoint freed early is unrecoverable), this traverses the
    * WHOLE plan including joins — safe because the deferred checkpoints
    * are restartable: a sibling frame built on the same [[distinctCum]]
    * result recomputes the histogram from the retained plan on its next
    * action instead of crashing, trading speed for correctness.
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.bridge.releaseDeferredCheckpoints(df)

  /** Distinct-value cumulative histogram.
    *
    * @param df       fact rows
    * @param parts    grouping columns (may be low-cardinality enums — they
    *                 never partition a fact-row window here)
    * @param value    column holding the ordered value (numeric; distinct
    *                 per group after reduction)
    * @param ord      non-negative integral expression MONOTONE in `value`
    *                 (equal values map to equal ords), used only for
    *                 bucketing
    * @param bucketWidth fixed bucket width W (>0)
    * @param measures per-distinct-value aggregates over the fact rows,
    *                 (name, commutative agg expr) — e.g. count(*) / sum(x)
    * @return one row per distinct (parts, value): measures `m`, inclusive
    *         cumulative measures `cum_m`, plus `__ord` and `__bucket`
    */
  def distinctCum(
      df: DataFrame,
      parts: Seq[String],
      value: String,
      ord: Column,
      bucketWidth: Long,
      measures: Seq[(String, Column)]): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = parts.map(col)
    // SHARED distinct-value table: it is consumed by TWO subtrees
    // (within-bucket windows + bucket totals), and without sharing each
    // consumer re-plans the whole fact-side aggregate — at 100 TB that is
    // a second full scan+shuffle of the input per consumer (PLANAUDIT r7
    // counted 7 fact scans in q78 before this). The mechanism is a
    // DEFERRED localCheckpoint (bridge.deferredLocalCheckpoint), chosen
    // over persist() by measurement: a cached InMemoryRelation is an AQE
    // boundary (no runtime stats cross it, so the tiny downstream frames
    // lose their auto-broadcasts — 2.3x SLOWER than no sharing at all),
    // while the checkpointed RDD feeds AQE real sizes (q78 3.1s -> 1.9s).
    // Storage is DOMAIN-bounded (distinct values), small however large
    // the input. Unlike a plain lazy localCheckpoint (which runs the
    // fact-scan stages the moment the frame is BUILT, r7 verdict #2),
    // the deferred form launches zero jobs until an action needs it —
    // explain-only consumers are safe by construction. Blocks are freed
    // with [[release]]; Bench/Verify/Profile's persistent-RDD sweep also
    // reclaims them.
    //
    // The checkpoint still hides the fact-side subtree behind a
    // LogicalRDD leaf: plan-INSPECTION tools (ScaleGuardSpec, PlanAudit)
    // set spark.graft.orderstats.share=off to see the full unshared tree.
    val share =
      df.sparkSession.conf.getOption("spark.graft.orderstats.share")
        .forall(_ != "off")
    val gBase = df
      .groupBy((p :+ col(value)): _*)
      .agg(measures.head._2.as(measures.head._1),
        measures.tail.map { case (n, c) => c.as(n) }: _*)
      .withColumn("__ord", ord.cast("long"))
      .withColumn("__bucket", expr(s"__ord DIV $bucketWidth"))
    val g =
      if (share) org.apache.spark.sql.graft.bridge.deferredLocalCheckpoint(gBase)
      else gBase

    // within-bucket running sums: partitions bounded by W distinct values
    val wIn = Window
      .partitionBy((p :+ col("__bucket")): _*)
      .orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIn = measures.foldLeft(g) { case (d, (n, _)) =>
      d.withColumn(s"__in_$n", sum(col(n)).over(wIn))
    }

    // bucket totals -> exclusive prefix over histogram rows (O(domain/W)
    // rows per part — the value-bounded histogram window, q89's shape)
    val totals = g
      .groupBy((p :+ col("__bucket")): _*)
      .agg(sum(col(measures.head._1)).as(s"__tot_${measures.head._1}"),
        measures.tail.map { case (n, _) => sum(col(n)).as(s"__tot_$n") }: _*)
    val wPfx = Window
      .partitionBy(p: _*)
      .orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = measures.foldLeft(totals) { case (d, (n, _)) =>
      d.withColumn(s"__base_$n", coalesce(sum(col(s"__tot_$n")).over(wPfx), lit(0L)))
    }.select((p :+ col("__bucket")) ++ measures.map { case (n, _) => col(s"__base_$n") }: _*)

    val joined = withIn.join(prefix, parts :+ "__bucket")
    measures.foldLeft(joined) { case (d, (n, _)) =>
      d.withColumn(s"cum_$n", col(s"__base_$n") + col(s"__in_$n"))
        .drop(s"__in_$n", s"__base_$n")
    }
  }

  /** Exact multi-quantile `percentile_disc` per group, scalable.
    *
    * percentile_disc(q) = the ceil(q·n)-th value in sort order (1-indexed,
    * nulls excluded) = the smallest v whose inclusive cumulative count
    * reaches the target rank. Targets use exact integer arithmetic
    * (`ceil(n·num/den)` as `(n·num + den − 1) DIV den`) — a double q·n can
    * land a hair above an integer and shift the pick.
    *
    * @param quantiles (outputName, num, den) with 0 < num <= den
    * @return one row per group: parts..., one DOUBLE column per quantile
    */
  def percentilesDisc(
      df: DataFrame,
      parts: Seq[String],
      value: String,
      ord: Column,
      bucketWidth: Long,
      quantiles: Seq[(String, Long, Long)]): DataFrame = {
    val p = parts.map(col)
    val facts = df.filter(col(value).isNotNull)
    val cum = distinctCum(facts, parts, value, ord, bucketWidth,
      Seq("n" -> count(lit(1))))
    // per-group totals roll up from the DISTINCT table (Σ per-value n),
    // not from facts — a second fact aggregate would be a second full
    // input scan at 100 TB. |groups| rows; no static broadcast hint
    // (`parts` is caller-supplied, so the frame is only bounded for enum
    // callers — AQE auto-broadcasts the tiny case at runtime).
    val totals = cum.groupBy(p: _*).agg(sum(col("n")).as("__n_total"))
    val withN = cum.join(totals, parts)
    // the pick row for quantile q is where cum_n first reaches the target:
    // cum_n - n < k <= cum_n  — ONE parallel scan of the distinct table
    val picks = quantiles.map { case (name, num, den) =>
      val k = expr(s"(__n_total * $num + ${den - 1}) DIV $den")
      max(when(col("cum_n") - col("n") < k && k <= col("cum_n"), col(value))).as(name)
    }
    withN.groupBy(p: _*).agg(picks.head, picks.tail: _*)
  }

  /** Inclusive cumulative measures at arbitrary query points.
    *
    * For each query row `(parts, x)` returns `C(x) = Σ_{v <= x} m(v)` for
    * every measure (0 where no value precedes x). `value` must itself be
    * the non-negative long order key. Two as-of passes, neither sorting
    * fact-level data through an enum partition:
    *   bucket level — query buckets merged into the bucket-totals
    *     histogram, queries sorted BEFORE data at equal bucket so the
    *     running total at a query row covers strictly-earlier buckets;
    *   within bucket — queries merged into the distinct-value rows of
    *     their own bucket, data sorted before queries at equal value so
    *     `<= x` is inclusive; `last(..., ignoreNulls)` carries the
    *     nearest preceding cumulative forward.
    *
    * @param queries rows with `parts` and long column `xCol`; any other
    *                columns are carried through
    */
  def cumAt(
      df: DataFrame,
      parts: Seq[String],
      value: String,
      bucketWidth: Long,
      measures: Seq[(String, Column)],
      queries: DataFrame,
      xCol: String): DataFrame =
    cumAtOn(distinctCum(df, parts, value, col(value), bucketWidth, measures),
      parts, value, bucketWidth, measures.map(_._1), queries, xCol)

  /** [[cumAt]] over an ALREADY-computed [[distinctCum]] frame — callers
    * holding the histogram (e.g. [[bandCountSum]], which also derives its
    * query points from it) avoid re-aggregating the fact input.
    */
  private def cumAtOn(
      cum: DataFrame,
      parts: Seq[String],
      value: String,
      bucketWidth: Long,
      names: Seq[String],
      queries: DataFrame,
      xCol: String): DataFrame = {
    val p = parts.map(col)

    // ---- bucket level: base(b_q) = totals of data buckets strictly < b_q
    val dataB = cum
      .groupBy((p :+ col("__bucket")): _*)
      .agg(sum(col(names.head)).as(s"__tot_${names.head}"),
        names.tail.map(n => sum(col(n)).as(s"__tot_$n")): _*)
      .withColumn("__isdata", lit(1))
    val queryB = queries
      .select((p :+ expr(s"$xCol DIV $bucketWidth").as("__bucket")): _*)
      .distinct()
      .withColumn("__isdata", lit(0))
    val unionB = dataB.unionByName(queryB, allowMissingColumns = true)
      .na.fill(0L, names.map(n => s"__tot_$n"))
    // value-bounded histogram window (O(domain/W) rows per part)
    val wB = Window.partitionBy(p: _*)
      .orderBy(col("__bucket"), col("__isdata"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseAtQ = names.foldLeft(unionB) { case (d, n) =>
      d.withColumn(s"__qbase_$n", sum(col(s"__tot_$n")).over(wB) - col(s"__tot_$n"))
    }
      .filter(col("__isdata") === 0)
      .select((p :+ col("__bucket")) ++ names.map(n => col(s"__qbase_$n")): _*)

    // ---- within bucket: nearest data cumulative at value <= x
    val dataV = cum.select(
      (p :+ col(value).cast("long").as("__x") :+ col("__bucket") :+ lit(1).as("__isdata")) ++
        names.map(n => col(s"cum_$n").as(s"__cum_$n")): _*)
    val queryV = queries.withColumn("__x", col(xCol).cast("long"))
      .withColumn("__bucket", expr(s"__x DIV $bucketWidth"))
      .withColumn("__isdata", lit(0))
    val unionV = dataV.unionByName(queryV, allowMissingColumns = true)
    // data (1) before query (0) at equal value => inclusive <=
    val wV = Window.partitionBy((p :+ col("__bucket")): _*)
      .orderBy(col("__x"), col("__isdata").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withinAtQ = names.foldLeft(unionV) { case (d, n) =>
      d.withColumn(s"__qin_$n", last(col(s"__cum_$n"), ignoreNulls = true).over(wV))
    }.filter(col("__isdata") === 0)

    // within-bucket cumulative ALREADY includes the bucket base (cum_m is
    // global-inclusive), so a query that found a preceding data value in
    // its bucket uses that directly; only bucket-empty-so-far queries fall
    // back to the bucket-level base.
    val out = withinAtQ.join(baseAtQ, parts :+ "__bucket")
    names.foldLeft(out) { case (d, n) =>
      d.withColumn(s"cum_$n", coalesce(col(s"__qin_$n"), col(s"__qbase_$n")))
        .drop(s"__qin_$n", s"__qbase_$n", s"__cum_$n", s"__tot_$n")
    }.drop("__isdata", "__bucket", "__x")
  }

  /** Exact symmetric value-band aggregate: for every distinct value v of a
    * long column, the count of rows and sum of values within
    * [v − halfWidth, v + halfWidth] of its group — the scalable exact form
    * of `count/sum OVER (PARTITION BY part ORDER BY v RANGE BETWEEN hw
    * PRECEDING AND hw FOLLOWING)`. Band sums decompose over the inclusive
    * cumulative as C(v+hw) − C(v−hw−1); the value sum needs no separate
    * measure because Σ_{band} v'·cnt(v') is itself a cumulative measure.
    *
    * @return (parts..., value, n_band, sum_band) — join back to fact rows
    *         on (parts, value) for per-row output
    */
  def bandCountSum(
      df: DataFrame,
      parts: Seq[String],
      value: String,
      halfWidth: Long,
      bucketWidth: Long): DataFrame = {
    val measures = Seq(
      "n" -> count(lit(1)),
      "vsum" -> sum(col(value)))
    val facts = df.select((parts.map(col) :+ col(value).cast("long").as(value)): _*)
    // ONE fact-side aggregate: the checkpointed distinct-value histogram
    // feeds the query-point generators (hi/lo below) AND both as-of
    // passes of cumAtOn — the facts themselves are scanned exactly once.
    val cum0 = distinctCum(facts, parts, value, col(value), bucketWidth, measures)
    val distinctVals = cum0.select((parts.map(col) :+ col(value)): _*)
    val hi = distinctVals
      .withColumn("__q", col(value) + lit(halfWidth))
      .withColumn("__side", lit("hi"))
    val lo = distinctVals
      // values are non-negative; v - hw - 1 can go negative, where C() is
      // simply 0 — clamp at -1. Spark's DIV truncates toward zero, so
      // -1 DIV W = 0: the clamped query lands in bucket 0 WITH the data,
      // not below it. Still exact: within bucket 0 the query value -1
      // sorts before every non-negative data value (so no __cum carries
      // forward onto it), and its bucket-level fallback base is the sum
      // of buckets strictly before bucket 0, i.e. 0 — hence C(-1) = 0.
      // If the clamp value ever changes, it must stay < all data values.
      .withColumn("__q", greatest(col(value) - lit(halfWidth + 1), lit(-1L)))
      .withColumn("__side", lit("lo"))
    val q = hi.unionByName(lo)
    val cums = cumAtOn(cum0, parts, value, bucketWidth, measures.map(_._1), q, "__q")
    cums
      .groupBy((parts.map(col) :+ col(value)): _*)
      .agg(
        (max(when(col("__side") === "hi", col("cum_n"))) -
          coalesce(max(when(col("__side") === "lo", col("cum_n"))), lit(0L))).as("n_band"),
        (max(when(col("__side") === "hi", col("cum_vsum"))) -
          coalesce(max(when(col("__side") === "lo", col("cum_vsum"))), lit(0L))).as("sum_band"))
  }
}
