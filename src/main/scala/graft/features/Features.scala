package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature-prep operators (SURVEY.md §2.H): splits, weights,
  * imputation, scaling, encoding, sampling. All distributed; the only
  * driver-side materialization is per-class statistics (k rows, where k
  * = number of classes — bounded and tiny by definition).
  */
object Features {

  /** How the quantile family ([[quantileBins]], [[winsorize]],
    * [[winsorizeByGroup]], [[madOutliers]]) computes its percentiles —
    * the callable scale dial the operators' scaladocs used to describe
    * only as a comment:
    *
    *  - [[PercentileStrategy.Exact]] (default): `percentile_cont` —
    *    bit-exact, oracle-stable, but the aggregation buffers each
    *    group's values, so each group must fit an executor (the
    *    checked-bound contract the q147 pattern verifies).
    *  - [[PercentileStrategy.Approx]]: `approx_percentile` at the
    *    given accuracy — a mergeable constant-memory sketch
    *    (Greenwald–Khanna), rank error ≤ 1/accuracy · n per group, the
    *    100 TB path. Returns an OBSERVED value (no interpolation), so
    *    downstream projections (clip fences, bin bounds, MAD) are
    *    unchanged in shape but may differ from exact within the rank
    *    tolerance. */
  sealed trait PercentileStrategy
  object PercentileStrategy {
    case object Exact extends PercentileStrategy
    /** @param accuracy GK sketch accuracy: rank error ≤ n/accuracy. */
    final case class Approx(accuracy: Int = 10000) extends PercentileStrategy {
      require(accuracy >= 1, "accuracy must be positive")
    }
    /** Bit-exact like [[Exact]], but computed by DISTRIBUTED order
      * statistics ([[groupPercentilesRank]]) instead of a buffering
      * aggregate: range-partitioned two-phase rank, then the two
      * bracketing order stats per target rank are picked and
      * interpolated with percentile_cont's own formula. No aggregation
      * buffer ever holds a group — the path for FEW, HUGE groups,
      * where Exact's per-group buffer is the executor OOM and Approx's
      * rank error is unwanted. Costs one range exchange + two small
      * shuffles; the (group × partition) offset relation must stay
      * driver-manageable, so prefer Exact when groups are numerous and
      * small (they fit buffers there anyway). */
    case object ExactRank extends PercentileStrategy
  }

  /** The percentile aggregate for `strategy` over SQL expression
    * `valueExpr` at fraction `f`, always as DOUBLE. ExactRank is not an
    * aggregate — call [[groupPercentilesRank]] instead. */
  private def pctl(valueExpr: String, f: Double,
      strategy: PercentileStrategy): Column = strategy match {
    case PercentileStrategy.Exact =>
      expr(s"percentile_cont($f) WITHIN GROUP (ORDER BY $valueExpr)")
    case PercentileStrategy.Approx(acc) =>
      expr(s"CAST(approx_percentile($valueExpr, CAST($f AS DOUBLE), $acc) AS DOUBLE)")
    case PercentileStrategy.ExactRank =>
      throw new IllegalArgumentException(
        "ExactRank is rank-based, not an aggregate — routed via groupPercentilesRank")
  }

  /** Exact percentiles by DISTRIBUTED order statistics — bit-identical
    * to `percentile_cont` without ever buffering a group's values.
    *
    * Shape: range-repartition on (group, value) so huge groups SPLIT
    * across partitions; per-partition `row_number` (parallel windows);
    * per-(partition, group) counts roll into per-group exclusive
    * offsets (a group × partition-count relation — parallel window,
    * partitioned by group); global rank = local rank + offset. Each
    * requested fraction f maps to percentile_cont's target rank
    * rk = 1 + f·(n−1); the rows at floor(rk)/ceil(rk) are picked by a
    * broadcast-sized join and interpolated as lo + (hi−lo)·(rk−⌊rk⌋) —
    * the same formula Spark's and DuckDB's percentile_cont use, on the
    * same doubles, so results hash-match the aggregate form (spec- and
    * oracle-verified).
    *
    * Nothing here funnels a group through one task or one buffer; the
    * only single-point relation is (groups × partitions) counts.
    *
    * @param fracs (fraction, output column name) pairs
    * @return one row per group: (groupCol, fracs..) as DOUBLE */
  def groupPercentilesRank(df: DataFrame, groupCol: String, value: Column,
      fracs: Seq[(Double, String)]): DataFrame = {
    require(fracs.nonEmpty, "need at least one fraction")
    require(fracs.forall { case (f, _) => f >= 0 && f <= 1 },
      "fractions must be in [0, 1]")
    require(fracs.map(_._2).distinct.size == fracs.size,
      "output column names must be distinct")
    val base = df.select(col(groupCol).as("__g"), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val sorted = base.repartitionByRange(col("__g"), col("__v"))
      .sortWithinPartitions(col("__g"), col("__v"))
      .withColumn("__pid", spark_partition_id())
    val pw = Window.partitionBy(col("__pid"), col("__g")).orderBy(col("__v"))
    val local = sorted.withColumn("__lrn", row_number().over(pw))
    val counts = local.groupBy(col("__pid"), col("__g"))
      .agg(count(lit(1)).as("__pn"))
    val offW = Window.partitionBy(col("__g")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__pn")).over(offW), lit(0L)))
    // null-safe on the group: a USING join would silently drop null
    // groups that the aggregate strategies keep
    val offs = offsets.select(col("__pid").as("__opid"),
      col("__g").as("__og"), col("__off"))
    val ranked = local
      .join(offs, col("__pid") === col("__opid") && col("__g") <=> col("__og"))
      .drop("__opid", "__og")
      .withColumn("__rk", col("__lrn") + col("__off"))
    val targets = offsets.groupBy(col("__g")).agg(sum(col("__pn")).as("__n"))
      .select(col("__g").as("__tg"), col("__n"),
        explode(array(fracs.map { case (f, nm) =>
          struct(lit(nm).as("fn"), lit(f).as("f")) }: _*)).as("__t"))
      .withColumn("__trk",
        lit(1.0) + col("__t.f") * (col("__n") - 1).cast("double"))
      .select(col("__tg"), col("__t.fn").as("__fn"), col("__trk"),
        floor(col("__trk")).cast("long").as("__lo"),
        ceil(col("__trk")).cast("long").as("__hi"))
    val picked = ranked.join(targets,
      col("__g") <=> col("__tg") &&
        (col("__rk") === col("__lo") || col("__rk") === col("__hi")))
    val perFrac = picked.groupBy(col("__g"), col("__fn"))
      .agg(
        min(when(col("__rk") === col("__lo"), col("__v"))).as("__vlo"),
        min(when(col("__rk") === col("__hi"), col("__v"))).as("__vhi"),
        min(col("__trk")).as("__prk"),
        min(col("__lo")).as("__plo"),
        min(col("__hi")).as("__phi"))
      // percentile_cont's own interpolation, operand for operand
      // (Percentile.getPercentile): vlo·(hi−pos) + vhi·(pos−lo) — NOT
      // the algebraically-equal lo + Δ·frac form, which differs by ulps
      .withColumn("__val",
        when(col("__plo") === col("__phi"), col("__vlo"))
          .otherwise(
            col("__vlo") * (col("__phi").cast("double") - col("__prk")) +
              col("__vhi") * (col("__prk") - col("__plo").cast("double"))))
    val pivots = fracs.map { case (_, nm) =>
      max(when(col("__fn") === nm, col("__val"))).as(nm)
    }
    perFrac.groupBy(col("__g").as(groupCol)).agg(pivots.head, pivots.tail: _*)
  }

  /** Rank-normalize a column to [0, 1] per group — SQL
    * `percent_rank` semantics ((rank−1)/(n−1), ties share the min
    * rank, single-row group → 0) without a per-group single-task
    * window: the quantile-transform feature prep (uniformize a skewed
    * measure before distance/gradient work).
    *
    * Scale shape: ranks are computed on the DISTINCT (group, value)
    * relation — ties collapse before any window — with the two-phase
    * rank idiom (range partition on (group, value), per-partition
    * cumulative counts, per-group offsets over the group × partition
    * totals), then joined back to rows. A plain
    * `percent_rank().over(partitionBy(group))` funnels each group
    * through one task AND carries every ROW through the sort; this
    * carries only distinct values and never single-tasks anything.
    * NULL values pass through with a null rank. */
  def rankNormalize(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "rank_norm"): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__nv"))
    val sorted = counts.repartitionByRange(col("__g"), col("__v"))
      .sortWithinPartitions(col("__g"), col("__v"))
      .withColumn("__pid", spark_partition_id())
    val pw = Window.partitionBy(col("__pid"), col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sorted.withColumn("__lc",
      coalesce(sum(col("__nv")).over(pw), lit(0L)))
    val perPart = sorted.groupBy(col("__pid"), col("__g"))
      .agg(sum(col("__nv")).as("__pn"))
    val offW = Window.partitionBy(col("__g")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perPart
      .withColumn("__off", coalesce(sum(col("__pn")).over(offW), lit(0L)))
    val offs = offsets.select(col("__pid").as("__opid"),
      col("__g").as("__og"), col("__off"))
    val ns = offsets.groupBy(col("__g").as("__ng")).agg(sum(col("__pn")).as("__n"))
    val ranked = local
      .join(offs, col("__pid") === col("__opid") && col("__g") <=> col("__og"))
      .join(ns, col("__g") <=> col("__ng"))
      // percent_rank: (min-rank-of-tie − 1) / (n − 1); below-count IS
      // min-rank − 1. Single-value groups are 0 by convention.
      .select(col("__g"), col("__v"),
        when(col("__n") > 1,
          (col("__lc") + col("__off")).cast("double") /
            (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)).as(outCol))
    df.join(ranked,
        col(groupCol) <=> col("__g") && col(valueCol) === col("__v"), "left")
      .drop("__g", "__v")
  }

  /** Seeded random split — `train_test_split(random_state=42)`
    * (`machineLearning.py:433`). */
  def randomSplit(df: DataFrame, testFraction: Double, seed: Long): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(1 - testFraction, testFraction), seed)
    (train, test)
  }

  /** Stratified split: per-class sampling via `sampleBy`, preserving
    * class proportions (the `stratify=y` semantics). The subtraction
    * runs on a synthetic row id, not the data columns — an anti-join on
    * values would leak every null-bearing row into BOTH splits (EqualTo
    * never matches null) and over-subtract duplicates.
    *
    * The id-bearing frame is MATERIALIZED (localCheckpoint) before
    * either split derives from it: `monotonically_increasing_id` and
    * `sampleBy`'s per-row rand are both functions of the runtime
    * partition layout, so on unpersisted lineage (a shuffled, sampled,
    * or AQE-coalesced upstream) the two derivations could each
    * re-execute it with DIFFERENT layouts — rows landing in both
    * splits or neither. Checkpointing pins one layout; both splits
    * read the same materialized rows. (For an engine-portable,
    * recompute-free split keyed on the DATA, see
    * [[stratifiedSplitByKey]].) */
  def stratifiedSplit(df: DataFrame, labelCol: String, testFraction: Double,
      seed: Long): (DataFrame, DataFrame) = {
    val withId = df.withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint()
    val classes = withId.select(labelCol).distinct().collect().map(_.get(0))
    val fractions = classes.map(c => c -> (1 - testFraction)).toMap
    val train = withId.stat.sampleBy(labelCol, fractions, seed)
    val test = withId.join(train.select("__rid"), Seq("__rid"), "left_anti")
    (train.drop("__rid"), test.drop("__rid"))
  }

  /** Deterministic stratified split keyed on a UNIQUE data column: a
    * row is test iff its md5-derived uniform (the [[hashSample]] /
    * [[kFolds]] grid — pure function of the key, stable under any
    * partitioning, engine, or rerun) falls below `testFraction`,
    * salted with the seed. Per-class proportions hold in expectation
    * exactly as `sampleBy`'s Bernoulli draw does, with none of its
    * recompute hazard and no materialization — the scale path. The
    * label column never enters the draw, so the split is also
    * immune to label-distribution drift between runs. */
  def stratifiedSplitByKey(df: DataFrame, keyCol: String,
      testFraction: Double, seed: Long): (DataFrame, DataFrame) = {
    require(testFraction > 0 && testFraction < 1, "testFraction in (0,1)")
    val u = conv(substring(md5(concat_ws("",
        lit(seed.toString), col(keyCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52: u in [0, 1)
    val isTest = u < lit(testFraction)
    (df.filter(!isTest), df.filter(isTest))
  }

  /** Time-ordered split (`machineLearning.py:611-615`): cutoff by
    * approximate quantile of the time column — no global sort, two
    * passes over the data. */
  def timeSplitByQuantile(df: DataFrame, timeCol: String,
      trainFraction: Double): (DataFrame, DataFrame) = {
    val cutoff = df.stat.approxQuantile(timeCol, Array(trainFraction), 1e-4)(0)
    (df.filter(col(timeCol) <= cutoff), df.filter(col(timeCol) > cutoff))
  }

  /** Balanced class weights n/(k·count) — `machineLearning.py:80-98`.
    * Null labels are excluded everywhere (total, k, and output), the
    * semantics of the reference's `value_counts()` (dropna) — counting
    * the null group in k but not consistently elsewhere would skew
    * every weight. One aggregation pass; total/k derive from the
    * (k-row) counts frame. */
  def classWeights(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.filter(col(labelCol).isNotNull)
      .groupBy(labelCol).agg(count(lit(1)).as("n"))
    val Array(total, k) = counts.agg(sum(col("n")), count(lit(1))).head()
      .toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    counts.withColumn("weight", lit(total) / (lit(k) * col("n")))
  }

  /** Mean imputation — `SimpleImputer(strategy="mean")`
    * (`machineLearning.py:288`). One scalar agg, then a codegen'd
    * coalesce; no shuffle of the main table. */
  def imputeMean(df: DataFrame, c: String): DataFrame = {
    val mean = df.agg(avg(col(c))).head().getDouble(0)
    df.withColumn(c, coalesce(col(c), lit(mean)))
  }

  /** Most-frequent imputation — mode via count + `max_by` (one tiny agg
    * over the categorical domain). */
  def imputeMode(df: DataFrame, c: String): DataFrame = {
    val mode = df.filter(col(c).isNotNull).groupBy(col(c)).count()
      .agg(max_by(col(c), struct(col("count"), col(c)))).head().get(0)
    df.withColumn(c, coalesce(col(c), lit(mode)))
  }

  /** Z-score standardization — `StandardScaler` (`machineLearning.py:289`):
    * sample stddev, matching sklearn/DuckDB `stddev`. */
  def standardize(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(avg(col(c)).as(s"${c}_mean"),
      stddev_samp(col(c)).as(s"${c}_std")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      acc.withColumn(s"${c}_z",
        (col(c) - lit(stats.getDouble(2 * i))) / lit(stats.getDouble(2 * i + 1)))
    }
  }

  /** Frequency-ordered label encoding — `StringIndexer` semantics
    * (most frequent label → 0; ties broken by value). Returns the
    * mapping table; apply with a broadcast join.
    *
    * Scale shape: the rank over the distinct-value relation is the
    * two-phase distributed rank (the
    * [[graft.sim.Linkage.sortedNeighborhoodPairs]] idiom) — range
    * partition on (count desc, value), per-partition `row_number`
    * (parallel windows), plus a P-row offset relation — NOT a global
    * single-task window, so an ID-like column with a corpus-sized
    * "vocabulary" still ranks in parallel instead of funneling the
    * whole domain through one task. */
  def labelEncoding(df: DataFrame, c: String): DataFrame = {
    val counts = df.filter(col(c).isNotNull)
      .groupBy(col(c)).agg(count(lit(1)).as("__n"))
    val sorted = counts
      .repartitionByRange(col("__n").desc, col(c))
      .sortWithinPartitions(col("__n").desc, col(c))
      .withColumn("__pid", spark_partition_id())
    val pw = Window.partitionBy(col("__pid"))
      .orderBy(col("__n").desc, col(c))
    val local = sorted.withColumn("__lrn", row_number().over(pw))
    // P-row count relation — pinned partition marks the single-task
    // window intentional
    val offW = Window.partitionBy(graft.plans.PinnedWindow.key(col("__pid")))
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"))
      .withColumn("__off", coalesce(sum(col("__pn")).over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .select(col(c),
        (col("__lrn") + col("__off") - 1).cast("long").as("label_idx"))
  }

  /** One-hot encoding over an explicit category list — unknown values
    * get all-zero flags (`OneHotEncoder(handle_unknown="ignore")`,
    * `machineLearning.py:294`). Pure codegen'd projections, no shuffle;
    * the category list is driver-known (from [[labelEncoding]] or a
    * declared domain). */
  def oneHot(df: DataFrame, c: String, categories: Seq[String]): DataFrame =
    categories.foldLeft(df) { (acc, v) =>
      acc.withColumn(s"${c}_$v", when(col(c) === v, 1).otherwise(0))
    }

  /** Deterministic hash sampling: portable across engines (md5 of the
    * key string), unlike seeded `rand()`. `fraction` maps to a hex
    * prefix threshold on the md5 of the key. */
  def hashSample(keyCol: Column, hexThreshold: String): Column =
    substring(md5(keyCol.cast("string").cast("binary")), 1, hexThreshold.length) < hexThreshold

  /** k sample rows per group, seeded — `groupby.apply(sample)`
    * (`machineLearning.py:376-380`). */
  def groupedSample(df: DataFrame, groupCol: String, k: Int, seed: Long): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(groupCol)).orderBy(rand(seed))))
      .filter(col("__rn") <= k).drop("__rn")

  /** Engine-portable variant: rank inside each group by md5 of a unique
    * key instead of `rand` — the "random" order is a pure function of
    * the data, so any engine (and any rerun, any partitioning) draws
    * the same k rows per group. */
  def groupedSampleHash(df: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(md5(col(keyCol).cast("string").cast("binary")), col(keyCol))))
      .filter(col("__rn") <= k).drop("__rn")

  /** Top-k rows per group by an explicit deterministic order.
    * Window formulation: sorts EVERY group member — the safe choice
    * when group sizes are unbounded (no per-group state beyond the
    * sort). See [[topKPerGroupAgg]] for the hash-agg variant. */
  def topKPerGroup(df: DataFrame, groupCol: String, order: Seq[Column], k: Int,
      rankCol: String = "rn"): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(col(groupCol)).orderBy(order: _*)).cast("long"))
      .filter(col(rankCol) <= k)

  /** Top-k per group as a hash aggregate: collect_list + array_sort +
    * slice. No per-partition full sort (the window variant sorts all
    * rows of every partition), partial aggregation runs map-side, and
    * AQE handles group skew — measured ~20% faster than the window at
    * sf0.1 and increasingly better as k/|group| shrinks. Requires
    * group sizes bounded enough to buffer one group's structs in
    * memory (true for order-lines, sessions, near-dup buckets; use the
    * window variant for unbounded groups).
    *
    * `sortKey` must be a struct Column whose ASCENDING order is the
    * desired rank order (negate numerics for descending); its fields
    * are returned alongside `groupCol` and the 1-based `rankCol`.
    */
  def topKPerGroupAgg(df: DataFrame, groupCol: String, sortKey: Column,
      k: Int, rankCol: String = "rn"): DataFrame =
    df.groupBy(col(groupCol))
      .agg(slice(array_sort(collect_list(sortKey)), 1, k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")))
      .select(col(groupCol), col("col.*"),
        (col("pos") + 1).cast("long").as(rankCol))

  /** Quantile binning (equal-frequency discretization): `b` buckets
    * whose boundaries are the exact 1/b..(b-1)/b percentiles — the
    * feature-prep discretizer (and the histogram the reference's
    * EDA plots imply). Boundaries are b−1 driver scalars (one
    * aggregation), GRID-ROUNDED to 6 decimals so an external engine
    * recomputing them lands on identical doubles; assignment is then
    * one map-side expression: bin = Σ (x > boundary). At 100 TB pass
    * `strategy = Approx(...)` — the assignment expression is
    * unchanged. */
  def quantileBins(df: DataFrame, valueCol: String, b: Int,
      binCol: String = "bin",
      strategy: PercentileStrategy = PercentileStrategy.Exact): DataFrame = {
    require(b >= 2, "need at least 2 bins")
    val fracs = (1 until b).map(i => i.toDouble / b)
    val row = strategy match {
      case PercentileStrategy.ExactRank =>
        // all-null/empty input yields ZERO rows here (vs the aggregate
        // strategies' one null row) — surface the same error below
        groupPercentilesRank(df.withColumn("__qbg", lit(0)), "__qbg",
            col(valueCol), fracs.zipWithIndex.map { case (f, i) => f -> s"__q$i" })
          .select(fracs.indices.map(i => round(col(s"__q$i"), 6).as(s"__q$i")): _*)
          .collect().headOption.orNull
      case _ =>
        val aggs = fracs.zipWithIndex.map { case (f, i) =>
          round(pctl(s"`$valueCol`", f, strategy), 6).as(s"__q$i")
        }
        df.agg(aggs.head, aggs.tail: _*).head()
    }
    require(row != null && !row.isNullAt(0),
      s"quantileBins: no non-null values in '$valueCol' (empty input?)")
    val bounds = fracs.indices.map(row.getDouble)
    val bin = bounds.map(q => when(col(valueCol) > lit(q), 1L).otherwise(0L))
      .reduce[Column](_ + _)
    df.withColumn(binCol, bin)
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * 60-bit md5 prefix of the key, mod k — engine-portable (the
    * [[hashSample]] recipe), stable under any partitioning or cluster
    * layout, uniform in expectation, and reproducible years later from
    * the key alone (no seed state to lose). */
  def kFolds(df: DataFrame, keyCol: String, k: Int,
      foldCol: String = "fold"): DataFrame = {
    require(k > 1, "need at least 2 folds")
    df.withColumn(foldCol,
      pmod(conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(k.toLong)))
  }

  /** Deterministic weighted sampling without replacement (per group):
    * the Efraimidis–Spirakis exponential race — each row draws a
    * deterministic uniform u from its key's md5 and races with key
    * `-ln(u)/w`; the k SMALLEST keys per group win, so selection
    * probability is proportional to weight. Engine-portable end to end
    * (md5 grid for u, round-9 race keys with an id tiebreak so an ulp
    * of `ln` divergence between engines cannot flip the pick). Weights
    * must be strictly positive — clamp before calling. */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String,
      keyCol: String, weightCol: String, k: Int): DataFrame = {
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("double") + lit(1.0)) / lit(4503599627370497.0) // (2^52)+1: u in (0, 1)
    val race = round(-log(u) / col(weightCol), 9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(race.asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Sentinel `chunkSeconds`: PROBE the data and choose the path.
    * The default for the chunked time-series family
    * ([[timeWeightedAvg]], [[cusumDeviation]], [[resampleLinear]],
    * [[forwardFillTs]]) — the 1000× scale probes proved the unchunked
    * per-series window is the few-huge-partitions wall exactly when
    * the caller least expects it (a low-cardinality series column over
    * raw rows), so the scale-safe plan must not hide behind a knob.
    * Pass 0 to force the single-window path (skips the probe — the
    * interactive-latency choice when the caller KNOWS series are
    * small), or an explicit positive width to force chunking. */
  val ChunkAuto: Long = -1L

  /** [[autoChunkWidth]] keeps the single-window path while the mean
    * series holds at most this many rows — a one-task sort of 4M rows
    * is comfortably inside an executor; beyond it the per-series
    * window is the measured super-linear wall. */
  val AutoChunkMaxRowsPerSeries: Long = 4000000L

  /** Target rows per (series, chunk) task once [[autoChunkWidth]]
    * decides to chunk. */
  val AutoChunkTargetRows: Long = 1000000L

  /** The data probe behind [[ChunkAuto]]: ONE aggregate-only pass
    * (map-side combined, four scalars back — no shuffle of raw rows)
    * reading row count, approximate series cardinality, and the
    * timestamp span. Returns 0 ("don't chunk") while the mean series
    * fits a single task's sort, else a chunk width (units of `ts`)
    * sized so a mean (series, chunk) cell holds ~`targetChunkRows`
    * rows under a uniform-timestamp assumption — skewed timestamps
    * change task sizes, never results (the chunked formulations are
    * bit-identical at ANY width). The width derives from
    * `approx_count_distinct` (±2% HLL), so it is stable for a given
    * dataset but not a cross-engine contract — oracle-checked queries
    * rely on the bit-identity of both paths, not on which path ran.
    * Cost: one extra job over `df` — callers at interactive latency
    * who know their data pass an explicit `chunkSeconds` instead. */
  def autoChunkWidth(df: DataFrame, seriesCol: String, tsCol: Column,
      maxRowsPerSeries: Long = AutoChunkMaxRowsPerSeries,
      targetChunkRows: Long = AutoChunkTargetRows): Long = {
    val r = df.agg(count(lit(1)).as("n"),
      approx_count_distinct(col(seriesCol)).as("s"),
      min(tsCol.cast("long")).as("lo"),
      max(tsCol.cast("long")).as("hi")).head()
    if (r.isNullAt(2) || r.getLong(0) == 0L) return 0L // empty input
    val perSeries = r.getLong(0) / math.max(1L, r.getLong(1))
    if (perSeries <= maxRowsPerSeries) 0L
    else {
      val chunks = math.max(2L,
        (perSeries + targetChunkRows - 1L) / targetChunkRows)
      val span = r.getLong(3) - r.getLong(2) + 1L
      math.max(1L, (span + chunks - 1L) / chunks)
    }
  }

  /** Resolve a caller's `chunkSeconds` against the [[ChunkAuto]]
    * contract: negative = probe, else pass through. */
  private def resolveChunk(df: DataFrame, seriesCol: String, tsCol: Column,
      chunkSeconds: Long): Long =
    if (chunkSeconds < 0L) autoChunkWidth(df, seriesCol, tsCol)
    else chunkSeconds

  /** Forward-fill (LOCF imputation): each null adopts the latest
    * non-null value at-or-before it within its partition — the
    * time-series face of imputation (sensor gaps, sparse event
    * attributes). `last(_, ignoreNulls)` over a running frame; the
    * window partitions by `partCol`, so state never crosses keys and
    * the shuffle is the ordinary per-key exchange — no global sort.
    * Leading nulls (no prior observation) stay null by definition. */
  def forwardFill(df: DataFrame, partCol: String, orderCols: Seq[String],
      valueCol: String, outCol: String): DataFrame = {
    // orderCols must be a UNIQUE key within the partition: a ROWS frame
    // under a tied sort is partitioning-dependent — pass a tiebreaker
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** [[forwardFill]] for a LOW-cardinality partition column over raw
    * rows — the third member of the chunked family (lead:
    * [[timeWeightedAvg]]/[[resampleLinear]]; prefix sum:
    * [[cusumDeviation]]; LOCF: here). Intra-chunk LOCF per
    * (partition, ts DIV chunk), then each chunk's last non-null value
    * (a chunk-count-sized relation) carries forward across chunks via
    * an EXCLUSIVE running `last(ignoreNulls)`, and rows whose
    * intra-chunk fill is null adopt the carried value. BIT-IDENTICAL
    * to the global window (LOCF composes associatively: the latest
    * non-null at-or-before a row is either inside its own chunk or
    * the last non-null of some earlier chunk). `tsCol` must be
    * numeric non-negative and (tsCol, tieBreak) unique per key —
    * equal timestamps land in one chunk, preserving order across
    * edges. */
  def forwardFillChunked(df: DataFrame, partCol: String, tsCol: String,
      tieBreak: String, valueCol: String, outCol: String,
      chunkSeconds: Long): DataFrame = {
    require(chunkSeconds > 0, "chunkSeconds must be positive")
    val b = df.withColumn("__b",
      expr(s"CAST(`$tsCol` AS BIGINT) DIV $chunkSeconds"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol), col("__b"))
      .orderBy(col(tsCol), col(tieBreak))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // per-chunk last non-null: max_by over non-null rows only (the
    // running last(ignoreNulls) of a whole chunk IS its latest
    // non-null row's value under the same (ts, tie) order)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // EVERY chunk gets a row (an all-null chunk must still receive the
    // carry of earlier chunks): max_by's ordering is masked null for
    // null values, so it yields the latest non-null value or null
    val carried = b.groupBy(col(partCol), col("__b"))
      .agg(max_by(col(valueCol),
        when(col(valueCol).isNotNull,
          struct(col(tsCol), col(tieBreak)))).as("__cl"))
      .withColumn("__carry", last(col("__cl"), ignoreNulls = true).over(wb))
      .drop("__cl")
    b.withColumn("__intra", last(col(valueCol), ignoreNulls = true).over(wl))
      .join(carried, Seq(partCol, "__b"))
      .withColumn(outCol, coalesce(col("__intra"), col("__carry")))
      .drop("__b", "__intra", "__carry")
  }

  /** The timestamp-keyed LOCF entry with AUTOMATIC path selection —
    * [[forwardFill]] when the probe says series fit a task's sort,
    * [[forwardFillChunked]] (bit-identical) when they don't. The
    * scale-safe default: a caller shouldn't need to know the
    * few-huge-partitions wall exists to survive it. `(tsCol,
    * tieBreak)` must be unique per key and `tsCol` numeric
    * non-negative (the chunked contract). Column order is preserved
    * (input columns, then `outCol`) whichever path runs. */
  def forwardFillTs(df: DataFrame, partCol: String, tsCol: String,
      tieBreak: String, valueCol: String, outCol: String,
      chunkSeconds: Long = ChunkAuto): DataFrame = {
    val chunk = resolveChunk(df, partCol, col(tsCol), chunkSeconds)
    val out =
      if (chunk <= 0L)
        forwardFill(df, partCol, Seq(tsCol, tieBreak), valueCol, outCol)
      else forwardFillChunked(df, partCol, tsCol, tieBreak, valueCol,
        outCol, chunk)
    out.select((df.columns :+ outCol).map(col): _*)
  }

  /** [[topKPerGroupAgg]] on the native bounded-heap aggregate
    * ([[graft.functions.BoundedTopKAgg]]): identical results, but the
    * aggregation buffer holds AT MOST k rows per group at every stage —
    * `collect_list` materializes the whole group before the
    * sort+slice, which is the OOM at 100 TB group skew. */
  def topKPerGroupBounded(df: DataFrame, groupCol: String, sortKey: Column,
      k: Int, rankCol: String = "rn"): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.bounded_topk(sortKey, k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")))
      .select(col(groupCol), col("col.*"),
        (col("pos") + 1).cast("long").as(rankCol))

  /** [[groupedSampleHash]] on the bounded heap: the same
    * engine-portable deterministic k-per-group draw (md5-of-key rank
    * — "random" as a pure function of the data), but via
    * [[graft.functions.BoundedTopKAgg]] instead of a window sort, so
    * every aggregation buffer holds ≤ k rows and a skewed group
    * costs O(group·log k) comparisons instead of a full group sort.
    * The per-group face of the reservoir-sampling story: a
    * hash-ranked bounded heap IS a deterministic reservoir. Returns
    * the group, key, and the 1-based draw rank. */
  def groupedSampleBounded(df: DataFrame, groupCol: String,
      keyCol: String, k: Int, rankCol: String = "rn"): DataFrame =
    topKPerGroupBounded(df, groupCol,
      struct(md5(col(keyCol).cast("string").cast("binary")).as("__h"),
        col(keyCol).as(keyCol)), k, rankCol)
      .drop("__h")

  /** Time-series resampling to a regular grid with LINEAR
    * interpolation — the align-before-join step for sensor/metric
    * series (forwardFill is the step-function sibling). Each
    * consecutive observation pair (one `lead` window — a single
    * shuffle on the series key) OWNS the grid points in
    * `[⌈t₀/step⌉·step, t₁)` and emits them map-side
    * (`sequence`+`explode`) with
    * `v = v₀ + (v₁−v₀)·(g−t₀)/(t₁−t₀)`; the final observation emits
    * itself when it lands on-grid. No per-grid-point lookups, no
    * cross-pair joins, and every grid point is produced exactly once.
    * Grid points outside [first, last] don't exist by construction
    * (no edge extrapolation). Timestamps must be non-negative (DIV
    * truncation = floor only for t ≥ 0 — the cross-engine grid
    * contract).
    *
    * Output: (seriesCol, grid_ts, value) — value is the raw IEEE
    * interpolation; round at the query edge for cross-engine dumps. */
  /** @param chunkSeconds [[ChunkAuto]] (default) = probe the data and
    *        choose ([[autoChunkWidth]]); 0 = force one lead window per
    *        series; positive = force that chunk width (units of
    *        `tsCol`) — the lead is then computed per (series, t DIV
    *        chunk) and chunk boundaries stitch through the
    *        per-chunk-firsts relation, bit-identically (the
    *        [[timeWeightedAvg]] chunking; equal timestamps cannot
    *        straddle a chunk edge). PRECONDITION for the bit-identity
    *        (and thus for the auto default, where the path is a
    *        data-dependent choice): timestamps must be UNIQUE per
    *        series — the unchunked window orders by `__t` alone, so a
    *        duplicate (series, ts) makes its lead nondeterministic
    *        while the chunked stitch deterministically picks
    *        min(struct(t, v)); dedup or pre-aggregate first (the q111
    *        shape). */
  def resampleLinear(df: DataFrame, seriesCol: String, tsCol: String,
      valueCol: String, step: Long,
      chunkSeconds: Long = ChunkAuto): DataFrame = {
    require(step > 0, "step must be positive")
    val base = df.select(col(seriesCol),
      col(tsCol).cast("long").as("__t"),
      col(valueCol).cast("double").as("__v"))
    val chunk = resolveChunk(base, seriesCol, col("__t"), chunkSeconds)
    val p =
      if (chunk <= 0L) {
        val w = Window.partitionBy(col(seriesCol)).orderBy(col("__t"))
        base
          .withColumn("__t1", lead(col("__t"), 1).over(w))
          .withColumn("__v1", lead(col("__v"), 1).over(w))
      } else {
        val b = base.withColumn("__b", expr(s"__t DIV $chunk"))
        val wl = Window.partitionBy(col(seriesCol), col("__b"))
          .orderBy(col("__t"))
        // first (t, v) of each chunk: lexicographic struct-min matches
        // the window's arbitrary choice among equal timestamps
        val wb = Window.partitionBy(col(seriesCol)).orderBy(col("__b"))
        val firsts = b.groupBy(col(seriesCol), col("__b"))
          .agg(min(struct(col("__t"), col("__v"))).as("__f"))
          .withColumn("__nf", lead(col("__f"), 1).over(wb))
          .select(col(seriesCol), col("__b"),
            col("__nf.__t").as("__nt"), col("__nf.__v").as("__nv"))
        b.withColumn("__lt", lead(col("__t"), 1).over(wl))
          .withColumn("__lv", lead(col("__v"), 1).over(wl))
          .join(firsts, Seq(seriesCol, "__b"))
          .withColumn("__t1", coalesce(col("__lt"), col("__nt")))
          .withColumn("__v1",
            when(col("__lt").isNotNull, col("__lv")).otherwise(col("__nv")))
          .drop("__b", "__lt", "__lv", "__nt", "__nv")
      }
    val gs = expr(s"((__t + ${step - 1}) DIV $step) * $step")
    val interior = p.filter(col("__t1").isNotNull)
      .withColumn("__gs", gs)
      .withColumn("g", explode(
        when(col("__gs") <= col("__t1") - 1,
          sequence(col("__gs"), col("__t1") - 1, lit(step)))
          .otherwise(lit(Array.empty[Long]))))
      .select(col(seriesCol), col("g").as("grid_ts"),
        (col("__v") + (col("__v1") - col("__v")) *
          ((col("g") - col("__t")).cast("double") /
            (col("__t1") - col("__t")).cast("double"))).as("value"))
    val lastOnGrid = p.filter(col("__t1").isNull && col("__t") % step === 0)
      .select(col(seriesCol), col("__t").as("grid_ts"), col("__v").as("value"))
    interior.unionByName(lastOnGrid)
  }

  /** Per-group OLS trend lines — a least-squares slope/intercept for
    * EVERY series in one aggregation pass (the per-entity trend
    * detector: per-metric drift, per-customer growth), where fitting
    * series one-by-one at the driver would be the collect() anti-
    * pattern. Five moment sums accumulated in DECIMAL (exact,
    * order-independent — the q81 correlation recipe; a double sum's
    * partition-order nondeterminism would make slopes flap across
    * runs and engines), closed-form solve in doubles at the end.
    * Groups with < 2 points or zero x-variance yield NULL slope.
    *
    * Output: (group, n, slope, intercept) — raw doubles; round at
    * the query edge. */
  def trendPerGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val x = col(xCol).cast(d6)
    val y = col(yCol).cast(d6)
    val m = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum((x * x).cast(d12)).cast("double").as("sxx"),
        sum((x * y).cast(d12)).cast("double").as("sxy"))
    val denom = m("n") * m("sxx") - m("sx") * m("sx")
    val slope = when(denom =!= 0.0,
      (m("n") * m("sxy") - m("sx") * m("sy")) / denom)
    m.select(col(groupCol), col("n").cast("long").as("n"),
      slope.as("slope"),
      when(slope.isNotNull, (m("sy") - slope * m("sx")) / m("n"))
        .as("intercept"))
  }

  /** Winsorization: clip a numeric column at its exact [loQ, hiQ]
    * percentiles — the robust-stats companion to [[standardize]]
    * (outliers compress to the fence instead of dominating moments).
    * One exact percentile aggregate (two scalars, broadcast back via
    * cross join — never a per-row sort), then a codegen'd
    * least/greatest projection. At extreme scale pass
    * `strategy = Approx(...)` — the clip projection is unchanged.
    * NULLs pass through untouched. */
  def winsorize(df: DataFrame, valueCol: String, loQ: Double, hiQ: Double,
      outCol: String,
      strategy: PercentileStrategy = PercentileStrategy.Exact): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val bounds = strategy match {
      case PercentileStrategy.ExactRank =>
        groupPercentilesRank(df.withColumn("__wg", lit(0)), "__wg",
          col(valueCol), Seq(loQ -> "__lo", hiQ -> "__hi")).drop("__wg")
      case _ => df.agg(
        pctl(valueCol, loQ, strategy).as("__lo"),
        pctl(valueCol, hiQ, strategy).as("__hi"))
    }
    // left on true, not crossJoin: ExactRank's bounds relation is EMPTY
    // (not one null row) when every value is null — rows must survive
    // with null fences under every strategy
    df.join(broadcast(bounds), lit(true), "left")
      .withColumn(outCol,
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Per-group winsorization: fences computed WITHIN each group (one
    * grouped exact-percentile aggregate — group-count-sized — joined
    * back; the clip stays a codegen'd projection). The per-segment
    * robustifier: a global fence ([[winsorize]]) mangles segments
    * whose scales differ by orders of magnitude. */
  def winsorizeByGroup(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double, hiQ: Double, outCol: String,
      strategy: PercentileStrategy = PercentileStrategy.Exact): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val bounds = strategy match {
      case PercentileStrategy.ExactRank =>
        groupPercentilesRank(df, groupCol, col(valueCol),
          Seq(loQ -> "__lo", hiQ -> "__hi"))
      case _ => df.groupBy(col(groupCol)).agg(
        pctl(valueCol, loQ, strategy).as("__lo"),
        pctl(valueCol, hiQ, strategy).as("__hi"))
    }
    // LEFT + NULL-SAFE join-back: a null group KEY is a real group
    // (its fences must clip its rows — plain equality would silently
    // leave them unclipped), and ExactRank emits no row for an
    // all-null group where the aggregate strategies emit null fences —
    // the clip is a no-op on null fences either way
    df.join(bounds.withColumnRenamed(groupCol, "__bg"),
        col(groupCol) <=> col("__bg"), "left")
      .withColumn(outCol,
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__bg", "__lo", "__hi")
  }

  /** CUSUM drift scores per series — the classic changepoint signal:
    * the running sum of deviations from the series mean hovers near 0
    * while the level holds and ramps once it shifts; |cusum| crossing
    * a threshold flags the drift (threshold choice is the caller's
    * false-positive dial, conventionally k·σ·√n-ish).
    *
    * Determinism is the design constraint here: a DOUBLE running sum
    * is evaluation-strategy-dependent (different engines group the
    * additions differently), so deviations accumulate in exact
    * DECIMAL from a grid-rounded mean — every engine, partitioning,
    * and rerun produces the identical score sequence. One shuffle
    * (the per-series window, order made unique by `tieBreak`) plus a
    * series-grain mean aggregate joined back.
    *
    * Returns the input plus `cusumCol` (decimal) — aggregate or
    * threshold-filter downstream. */
  /** @param chunkSeconds [[ChunkAuto]] (default) = probe the data and
    *        choose ([[autoChunkWidth]]); 0 = force one running-sum
    *        window per series; positive = force the TWO-PHASE prefix
    *        formulation at that width — the scale path for
    *        low-cardinality series over raw rows (the classic
    *        single-task prefix-scan wall): intra-chunk running sum
    *        per (series, ts DIV chunk) + an exclusive prefix of the
    *        chunk totals (a chunk-count-sized relation) joined back.
    *        DECIMAL addition is associative and exact, so the
    *        regrouping is BIT-IDENTICAL to the global scan — the
    *        [[graft.operators.PrefixSum]] two-level idea applied per
    *        series. Equal timestamps land in one chunk, preserving
    *        the (ts, tieBreak) order across edges. */
  def cusumDeviation(df: DataFrame, seriesCol: String, tsCol: String,
      tieBreak: String, valueCol: String,
      cusumCol: String = "cusum", chunkSeconds: Long = ChunkAuto): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val chunk = resolveChunk(df, seriesCol, col(tsCol), chunkSeconds)
    val means = df.filter(col(valueCol).isNotNull)
      .groupBy(col(seriesCol))
      .agg(round(sum(col(valueCol).cast(d6)).cast("double") /
        count(lit(1)).cast("double"), 6).cast(d6).as("__mu"))
    if (chunk <= 0L) {
      val w = Window.partitionBy(col(seriesCol))
        .orderBy(col(tsCol), col(tieBreak))
        .rowsBetween(Window.unboundedPreceding, 0)
      df.join(means, Seq(seriesCol))
        .withColumn(cusumCol,
          sum(col(valueCol).cast(d6) - col("__mu")).over(w))
        .drop("__mu")
    } else {
      val b = df.join(means, Seq(seriesCol))
        .withColumn("__b",
          expr(s"CAST(`$tsCol` AS BIGINT) DIV $chunk"))
        .withColumn("__d", col(valueCol).cast(d6) - col("__mu"))
      val wl = Window.partitionBy(col(seriesCol), col("__b"))
        .orderBy(col(tsCol), col(tieBreak))
        .rowsBetween(Window.unboundedPreceding, 0)
      // exclusive prefix of chunk totals: rows = non-empty chunks
      val wb = Window.partitionBy(col(seriesCol)).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = b.groupBy(col(seriesCol), col("__b"))
        .agg(sum(col("__d")).as("__ct"))
        .withColumn("__off", sum(col("__ct")).over(wb))
        .drop("__ct")
      // __d is DECIMAL(19,6) (the 18,6 subtraction widens one digit),
      // so the unchunked sum(__d) window types as DECIMAL(29,6); cast
      // the stitched result to THAT so both paths emit the identical
      // schema with identical overflow headroom
      val d29 = org.apache.spark.sql.types.DecimalType(29, 6)
      b.withColumn("__intra", sum(col("__d")).over(wl))
        .join(offsets, Seq(seriesCol, "__b"))
        .withColumn(cusumCol,
          (coalesce(col("__off").cast(d29), lit(0).cast(d29)) +
            col("__intra")).cast(d29))
        .drop("__mu", "__b", "__d", "__intra", "__off")
    }
  }

  /** Robust per-group outlier scores via MAD (median absolute
    * deviation) — the outlier detector that survives what it's
    * detecting (a z-score fence moves with the outliers it should
    * flag; the median pair doesn't). score = |x − median| / MAD,
    * flagged when score > k (k ≈ 3–5 conventionally, on the raw MAD —
    * apply the 1.4826 normal-consistency factor to k if calibrating
    * against σ).
    *
    * Scale shape: two grouped EXACT percentile aggregates
    * (group-count-sized results joined back; the per-row projection is
    * codegen'd). Exact percentiles buffer each group's values — pass
    * `strategy = Approx(...)` at extreme group sizes, projection
    * unchanged (the [[quantileBins]] contract). Zero MAD (≥ half the group
    * identical) yields null score: "distance in MADs" is undefined,
    * not infinite — filter or treat as its own signal. NULL values
    * pass through with null score. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double, scoreCol: String = "mad_score",
      flagCol: String = "is_outlier",
      strategy: PercentileStrategy = PercentileStrategy.Exact): DataFrame = {
    require(k > 0, "k must be positive")
    def grouped(in: DataFrame, valueExpr: String, out: String): DataFrame =
      strategy match {
        case PercentileStrategy.ExactRank =>
          groupPercentilesRank(in, groupCol, expr(valueExpr), Seq(0.5 -> out))
        case _ => in.groupBy(col(groupCol)).agg(
          pctl(valueExpr, 0.5, strategy).as(out))
      }
    // LEFT + NULL-SAFE join-backs: a null group key is a real group
    // whose median/MAD must reach its rows (plain equality would
    // silently null them); all-null groups carry null med/mad (null
    // score) under every strategy
    def joinBack(base: DataFrame, agg: DataFrame): DataFrame = {
      val tag = agg.columns.last // __med / __mad
      base.join(agg.withColumnRenamed(groupCol, s"__g$tag"),
          col(groupCol) <=> col(s"__g$tag"), "left")
        .drop(s"__g$tag")
    }
    val med = grouped(df, s"`$valueCol`", "__med")
    val mad = grouped(joinBack(df, med), s"abs(`$valueCol` - __med)", "__mad")
    joinBack(joinBack(df, med), mad)
      .withColumn(scoreCol,
        when(col("__mad") =!= 0.0,
          round(abs(col(valueCol) - col("__med")) / col("__mad"), 6)))
      .withColumn(flagCol,
        when(col(valueCol).isNull, lit(null).cast("boolean"))
          .otherwise(coalesce(col(scoreCol) > k, lit(false))))
      .drop("__med", "__mad")
  }

  /** Time-weighted average per series over IRREGULAR observations —
    * each value holds until the next one, so it weighs by its holding
    * duration (the TWAP/sensor-mean answer to "the plain mean
    * overweights chatty periods"). The final observation of a series
    * has no duration and drops out, the standard left-closed
    * convention.
    *
    * One lead window per series (the ordinary per-key shuffle; order
    * made unique by `tieBreak`), then value×duration products in
    * exact DECIMAL — an IEEE double sum would be partition-order-
    * dependent — with the single division at the edge. `tsCol` must
    * be numeric (epoch seconds/micros — caller's resolution choice);
    * values exact at 6 decimals by the engine's cross-engine sum
    * contract. Returns (series, obs_used, twap). */
  /** @param chunkSeconds [[ChunkAuto]] (default) = probe the data and
    *        choose ([[autoChunkWidth]]); 0 = force one lead window per
    *        series — fine while each series fits a task's sort. A LOW-
    *        cardinality series column makes that window the classic
    *        few-huge-partitions wall (5 event types × 120M rows = 5
    *        tasks sorting 120M rows each; measured super-linear,
    *        per-row ratio 2.1, at the 1000× probe decade). A positive
    *        width (same unit as `tsCol`) computes the lead per
    *        (series, ts DIV chunk) instead — parallelism becomes
    *        series × chunks — and stitches chunk boundaries through
    *        the per-chunk-firsts relation (a chunk's first ts IS
    *        min(ts); the last row of a chunk's successor is the next
    *        non-empty chunk's first row, because equal timestamps can
    *        never straddle a chunk edge). Results are BIT-IDENTICAL
    *        to the global window; `tsCol` must be non-negative
    *        (integer DIV = floor only for t ≥ 0 — the
    *        [[resampleLinear]] contract). */
  def timeWeightedAvg(df: DataFrame, seriesCol: String, tsCol: String,
      tieBreak: String, valueCol: String,
      chunkSeconds: Long = ChunkAuto): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val d30 = org.apache.spark.sql.types.DecimalType(38, 6)
    val chunk = resolveChunk(df, seriesCol, col(tsCol), chunkSeconds)
    val withDur =
      if (chunk <= 0L) {
        val w = Window.partitionBy(col(seriesCol))
          .orderBy(col(tsCol), col(tieBreak))
        df.withColumn("__dur",
          (lead(col(tsCol), 1).over(w) - col(tsCol)).cast("long"))
      } else {
        val b = df.withColumn("__b",
          expr(s"CAST(`$tsCol` AS BIGINT) DIV $chunk"))
        val wl = Window.partitionBy(col(seriesCol), col("__b"))
          .orderBy(col(tsCol), col(tieBreak))
        // chunk-level firsts: tiny (series × non-empty chunks); its
        // per-series window sorts chunk COUNTS, not rows
        val wb = Window.partitionBy(col(seriesCol)).orderBy(col("__b"))
        val nextFirst = b.groupBy(col(seriesCol), col("__b"))
          .agg(min(col(tsCol)).as("__fts"))
          .withColumn("__nf", lead(col("__fts"), 1).over(wb))
          .drop("__fts")
        b.withColumn("__nl", lead(col(tsCol), 1).over(wl))
          .join(nextFirst, Seq(seriesCol, "__b"))
          .withColumn("__dur",
            (coalesce(col("__nl"), col("__nf")) - col(tsCol)).cast("long"))
          .drop("__b", "__nl", "__nf")
      }
    withDur
      .filter(col("__dur").isNotNull && col(valueCol).isNotNull)
      .groupBy(col(seriesCol))
      .agg(count(lit(1)).as("obs_used"),
        sum((col(valueCol).cast(d6) * col("__dur")).cast(d30)).as("__vw"),
        sum(col("__dur")).as("__w"))
      .select(col(seriesCol), col("obs_used"),
        round(col("__vw").cast("double") / col("__w").cast("double"), 6)
          .as("twap"))
  }

  /** Equi-width histogram with data-driven bounds — the profiling
    * companion to [[quantileBins]] (equi-POPULATION bins): one
    * min/max aggregate (exact, two doubles to the driver-free
    * broadcast), then a map-side bucket projection and a bins-sized
    * count aggregate. Two scans total, no windows, no sort — the
    * only formulation that holds at 100 TB (a single-pass streaming
    * histogram needs pre-known bounds; see the fixed-bound overload
    * a caller with domain knowledge should prefer).
    *
    * The top edge closes: `x = max` lands in the last bin
    * (`least(bin, bins-1)`), matching NumPy/`width_bucket`
    * conventions. A constant column (hi == lo) degenerates to one
    * bin 0. The bucket expression is a single IEEE subtract/divide/
    * floor chain — bit-identical across engines for the same inputs,
    * which is what makes the histogram oracle-checkable exactly. */
  def equiWidthHistogram(df: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 1, "need at least 1 bin")
    val v = col(valueCol).cast("double")
    val mm = df.filter(v.isNotNull)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    val w = (col("__hi") - col("__lo")) / lit(bins.toDouble)
    val bin = when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(floor((v - col("__lo")) / w), lit(bins - 1L))
        .cast("long"))
    df.filter(v.isNotNull)
      .crossJoin(broadcast(mm))
      .groupBy(bin.as("bin"), round(col("__lo") + bin * w, 6).as("lo_edge"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Temperature-flattened domain mixture sampling — the multi-source
    * pretraining-mix staple (GPT-3 §2.2 / XLM-R style): domain d with
    * n_d documents gets sampling weight w_d ∝ n_d^τ (τ < 1 UPWEIGHTS
    * small domains relative to proportional sampling; τ = 1 is
    * proportional, τ = 0 uniform across domains), quota_d =
    * max(1, floor(target · w_d / Σw)), and the quota is drawn
    * deterministically — rank by md5 of the unique key inside each
    * domain ([[groupedSampleHash]]'s recipe), so any engine, rerun,
    * or partitioning draws the same rows.
    *
    * Shape at scale: the quota table is domain-sized (tiny — one
    * hash aggregate over the domain column, broadcast back), and the
    * per-domain rank is one shuffle on the domain key. The floor's
    * input is grid-rounded to 6 decimals first so a 1e-15
    * summation-order difference between engines cannot flip a quota
    * across an integer boundary. */
  def temperatureMixSample(df: DataFrame, domainCol: String,
      keyCol: String, tau: Double, target: Int): DataFrame = {
    require(target > 0, "target must be positive")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__wr", pow(col("__n").cast("double"), lit(tau)))
    val quotas = counts
      .crossJoin(broadcast(counts.agg(sum(col("__wr")).as("__wsum"))))
      .select(col(domainCol),
        greatest(lit(1L),
          floor(round(lit(target.toDouble) * col("__wr") / col("__wsum"), 6))
            .cast("long")).as("__quota"))
    val rank = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(keyCol).cast("string").cast("binary")), col(keyCol))
    df.join(broadcast(quotas), Seq(domainCol))
      .withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** Deterministic mixture sampling to a COST budget — the
    * training-data mixture op: given target weights per domain and a
    * global budget in an additive cost unit (tokens, chars, bytes),
    * each domain is filled in deterministic md5-priority order until
    * its share of the budget is spent.
    *
    * Per listed domain d the quota is floor(budget · w(d)/Σw),
    * computed driver-side from the caller's literal weights (no float
    * plan divergence to chase). A doc is kept while the cumulative
    * cost of its domain-predecessors is < quota — so the boundary doc
    * may overshoot its quota (greedy-fill convention; every nonempty
    * listed domain with a positive quota contributes ≥ 1 doc), and
    * unlisted domains are dropped entirely.
    *
    * Scale shape: one broadcast join against the |weights|-row quota
    * relation, then a TWO-PHASE cumulative cost within each domain
    * (the [[graft.operators.PrefixSum]] idiom): docs bucket by their
    * md5 prefix — the bucket order IS the priority order — so the
    * running sum is a per-(domain, bucket) window (parallel) plus
    * per-domain offsets over the (domains × 256)-bucket totals
    * relation, never one task per domain. Mixture domains are FEW and
    * HUGE by nature — a plain per-domain window would funnel each
    * domain's whole corpus through a single task. Cost stays a Long
    * sum (exact in every engine); selection is reproducible from keys
    * alone under any partitioning (the [[hashSample]] recipe). */
  def budgetMixSample(df: DataFrame, domainCol: String, keyCol: String,
      costCol: String, weights: Map[String, Double],
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be nonempty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    // canonical (key-sorted) summation order: float addition is
    // order-dependent and Map iteration order changes with map size,
    // so an unordered sum could move wsum by an ulp and shift a quota
    // by one — breaking reproducibility of the selection (and any
    // external oracle recomputing the same quotas)
    val ordered = weights.toSeq.sortBy(_._1)
    val wsum = ordered.map(_._2).sum
    val quotas = ordered
      .map { case (d, w) => (d, math.floor(budget * w / wsum).toLong) }
      .toDF(domainCol, "__quota")
    val keyed = df.join(broadcast(quotas), Seq(domainCol))
      .withColumn("__h", md5(col(keyCol).cast("string").cast("binary")))
      .withColumn("__bk", substring(col("__h"), 1, 2)) // 256 buckets/domain
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bw = Window.partitionBy(col(domainCol), col("__bk"))
      .orderBy(col("__h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = keyed
      .withColumn("__lc", coalesce(sum(col(costCol)).over(bw), lit(0L)))
    // (domains × 256)-row totals → exclusive per-domain bucket offsets.
    // Materialized eagerly (tiny) so the scan+join+md5 work is shared
    // with the window branch through the persist, which is then
    // released — the final action recomputes `keyed` once instead of
    // the offsets branch re-running the whole input a second time
    // (the PrefixSum.cumsum persist rationale).
    val offW = Window.partitionBy(col(domainCol)).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col(domainCol), col("__bk"))
      .agg(sum(col(costCol)).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(offW), lit(0L)))
      .select(col(domainCol), col("__bk"), col("__off"))
      .localCheckpoint()
    keyed.unpersist()
    local.join(broadcast(offsets), Seq(domainCol, "__bk"))
      .filter(col("__lc") + col("__off") < col("__quota"))
      .drop("__h", "__bk", "__lc", "__off", "__quota")
  }

  /** Smoothed target (mean) encoding of a categorical — the
    * high-cardinality alternative to [[oneHot]] (which explodes the
    * schema) and [[labelEncoding]] (whose ordinals fake an order):
    * each category maps to a shrunk estimate of its mean target,
    *
    *   enc(c) = (Σ_c y + m · ȳ) / (n_c + m)
    *
    * (the empirical-Bayes shrinkage of Micci-Barreca's CatBoost-era
    * formulation): a category seen n_c ≫ m times keeps its own mean,
    * a rare one shrinks toward the global prior instead of memorizing
    * noise. LEAKAGE contract: fit on the TRAIN split only and join
    * the returned mapping onto val/test — fitting on all rows leaks
    * the target; the mapping-table API makes the correct usage the
    * natural one (and is also what [[graft.ml.TensorPrep]]-style
    * encoder persistence wants).
    *
    * Numeric determinism: per-category sums accumulate on a 6-decimal
    * DECIMAL grid (order-independent), the prior from the same exact
    * sums; the float division happens once per category at the edge.
    * NULL targets are excluded; NULL categories form their own row
    * (they are a category an unseen-at-train join will also produce).
    *
    * Scale shape: ONE map-side-combined aggregation to the
    * category-domain relation + a broadcast of the 1-row prior. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 20.0): DataFrame = {
    require(smoothing >= 0, "smoothing must be >= 0")
    val d6 = org.apache.spark.sql.types.DecimalType(30, 6)
    val y = col(targetCol).cast("double")
    val base = df.filter(y.isNotNull)
    val perCat = base.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"),
        sum(round(y, 6).cast(d6)).as("__sy"))
    val prior = perCat.agg(
      (sum(col("__sy")).cast("double") / sum(col("n")).cast("double"))
        .as("__prior"))
    perCat.crossJoin(broadcast(prior))
      .select(col(catCol), col("n"),
        round(col("__prior"), 6).as("prior"),
        round((col("__sy").cast("double") + lit(smoothing) * col("__prior"))
          / (col("n").cast("double") + smoothing), 6).as("enc"))
  }

  /** Partition schema fields into (numeric, categorical) — the dtype
    * driven feature classification (`machineLearning.py:281-282`). */
  def classifyColumns(df: DataFrame): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val (num, cat) = df.schema.fields.partition(f => f.dataType match {
      case _: NumericType => true
      case _ => false
    })
    (num.map(_.name).toSeq, cat.map(_.name).toSeq)
  }
}
