package graft.engine

import graft.functions.{MidrankLookup, MidrankTable, SortableBucket}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NullType}

/** Correlation matrices: pearson / spearman / kendall.
  *
  * Reference: `p_corr` (`/root/reference/parallel_pandas/core/
  * parallel_dataframe.py:285-325`, numba kernels `_numba.py:44-158`).
  * pandas semantics: full col x col matrix, pairwise NaN masking,
  * `min_periods` gate; spearman = pearson over average ranks; kendall is
  * tau-b (tie-adjusted).
  *
  * Scale notes: pearson over k columns is one aggregate pass with
  * k*(k-1)/2 `corr` expressions (map-side combinable — fine for the
  * reference's <=100-column frames; for very wide frames use
  * `ml.stat.Correlation` on an assembled vector, which computes the
  * Gramian once). Spearman's rank prestep probes exact value counts
  * once and attaches midranks map-side through the
  * [[graft.functions.MidrankLookup]] kernel (fixed-bucket windows for
  * columns too wide for the broadcast gate) — no global window at any
  * scale. Kendall (the reference's numba kernel is O(n²)
  * pairwise, `_numba.py:106-146`) has three tiers here: bounded-collect
  * Knight ([[kendallFast]]), sampled ([[kendallApprox]]), and the
  * unbounded exact grid decomposition ([[kendallDistributed]]).
  */
object Corr {

  /** Byte-aware default for the bounded-collect kendall paths: rows
    * allowed under a ~256 MB driver-heap budget, with a JVM cost model
    * of ~(64 + 48·k) bytes per collected external Row of k boxed
    * doubles (Row object + field array + a boxed Double per cell).
    * k=2 → ~1.7M rows, k=4 → ~1.0M — replaces the former flat 10M-row
    * default, which at k=4 meant multiple GiB of driver heap ("bounded"
    * in name but not in bytes; VERDICT r10). Pass `maxRows` explicitly
    * to override in either direction; above the bound the matrix forms
    * escalate to [[kendallMatrixDistributed]] or point at
    * [[kendallApprox]], both semantically identical. */
  def kendallCollectMaxRows(k: Int, budgetBytes: Long = 256L << 20): Long =
    budgetBytes / (64L + 48L * k.max(1))

  /** Key-NDV bound of [[withGroupMidranks]]' probe sequence: at or
    * below it, ONE grouped histogram probe collects every column's
    * per-key exact value and fixed-bucket counts (collect memory is
    * bounded at ~cols × 2 × broadcast-gate entries by the per-key cap);
    * above it, only the columns whose NDV(key) × NDV(column) fits the
    * gate are counted exactly (kernel) and the rest take the quantile
    * window, so the driver never collects per-key histograms of a
    * many-key input. */
  private[graft] val GroupedProbeMaxKeys: Long = 1024L

  /** Pairwise pearson matrix in long form (c1, c2, corr), upper triangle. */
  def pearsonLong(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => Core.safeCorr(col(a), col(b)).as(s"${a}__$b") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, corr)")
    one.select(expr(stacked))
  }

  /** pandas `groupby(key).corr()`: the per-group correlation matrix in
    * long form (key, c1, c2, corr), upper triangle incl. the diagonal.
    * pearson: ONE grouped aggregate carries all k(k+1)/2 `corr` cells —
    * map-side-combinable co-moments, one shuffle on the group key.
    * spearman: each column midranked WITHIN its group by
    * [[withGroupMidranks]] in one of three regimes — the
    * [[graft.functions.MidrankLookup]] kernel (on inputs the broadcast
    * gate admits: ONE exact (key, column, value) counts probe and one
    * projection, no join, no window), a (key, fixed-bucket) window, or
    * a (key, quantile-bucket) window — never `Window.partitionBy(key)`,
    * so a low-cardinality group key (l_returnflag: 3 values) never
    * serializes n/3 of the corpus through one sort task. NULL cells midrank to NULL and are pairwise-
    * masked by the correlation (the old group-window form ranked nulls
    * first, polluting the coefficient). Like [[spearmanMatrix]], ranks
    * are computed per COLUMN (not per pair): on null-laden data this is
    * rank-then-mask, whereas pandas re-ranks each pair's common rows —
    * the documented fast-path deviation; see [[corrMatrixPairwise]] for
    * the exact per-pair semantics ungrouped.
    * Degenerate cells (zero variance in a group) are null, like pandas'
    * NaN. */
  def corrMatrixBy(df0: DataFrame, key: String, cols: Seq[String],
                   method: String = "pearson",
                   minPeriods: Int = 1,
                   kendallMaxGroupRows: Int = 2000000): DataFrame = {
    // pandas groupby(dropna=True): null keys drop for EVERY method
    // (Spark's groupBy would keep a null-key group)
    val df = df0.filter(col(key).isNotNull)
    val src = method match {
      case "pearson" => df
      case "spearman" =>
        withGroupMidranks(df, key, cols)
          .select(col(key) +: cols.map(c => col(s"__mr_$c").as(c)): _*)
      case "kendall" =>
        return kendallMatrixBy(df, key, cols,
            maxGroupRows = kendallMaxGroupRows, minPeriods = minPeriods)
          .withColumnRenamed("kendall", "corr")
      case other => throw new IllegalArgumentException(
        s"corrMatrixBy: method='$other' (pearson|spearman|kendall)")
    }
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    // min_periods gates per CELL on the pairwise-complete count, like
    // pandas DataFrame.corr within each group (spearman counts ranked
    // cells, which null exactly where the original was null/NaN)
    val aggs = pairs.flatMap { case (a, b) => Seq(
      Core.safeCorr(col(a), col(b)).as(s"${a}__$b"),
      count(when(col(a).isNotNull && col(b).isNotNull, 1))
        .as(s"${a}__${b}__n")) }
    val one = src.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods " +
        s"THEN `${a}__$b` END" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, corr)")
    one.select(col(key), expr(stacked))
  }

  /** Every column's within-group midrank, attached to `df` as
    * `__mr_<c>` (the spearman prestep of [[corrMatrixBy]]; null cells
    * rank null, NaN ranks greatest, a null key is its own group).
    *
    * Two probe routes, chosen from the input's plan-statistics row
    * estimate against the broadcast gate
    * ([[Reductions.groupRankStatsMaxRows]]); `oneShot` forces a route
    * (tests):
    *   - ONE-SHOT (estimate ≤ gate, so no column's (key, value) table
    *     is expected to outgrow the gate): [[groupValueCounts]] counts
    *     every exact (key, column, value) triple in one codegen hash
    *     aggregate. A collect that overflows k × gate rows (the
    *     estimate was wrong) falls back to the sequence below.
    *   - SEQUENCE (bigger inputs): an approximate-NDV probe, then
    *     - at most [[GroupedProbeMaxKeys]] keys: ONE grouped
    *       [[histogramPlans]] probe (the ungrouped [[rankedFrame]]'s
    *       probe, keyed);
    *     - more keys: [[groupValueCounts]] over the columns whose
    *       NDV(key) × NDV(column) fits the gate; the others take the
    *       quantile window.
    * Each column then takes one of three regimes ([[GroupRankPlan]]),
    * attached by [[attachRanks]]. Kernel columns need a hashable key
    * type and a value type whose double cast is injective; a long
    * column with a probed |value| ≥ 2^53 never takes the kernel. */
  private[graft] def withGroupMidranks(df: DataFrame, key: String,
      cols: Seq[String], oneShot: Option[Boolean] = None): DataFrame = {
    val gate = Reductions.groupRankStatsMaxRows(df.sparkSession)
    val kernelOk = MidrankTable.keyTypeSupported(df.schema(key).dataType) &&
      cols.forall(c => Reductions.castsExactly(df.schema(c).dataType))
    val probed =
      if (kernelOk && oneShot.getOrElse(
          Reductions.estimatedRows(df.select(key, cols: _*)) <= gate))
        groupValueCounts(df, key, cols, gate)
      else None
    val plans = probed.map(countPlans(df, cols, gate, _))
      .getOrElse(sequencePlans(df, key, cols, gate, kernelOk))
    attachRanks(df, Some(key), cols, cols.map(c => s"__mr_$c"), gate,
      plans, width = 0)
  }

  /** Exact counts of one column's values (or buckets) per group key. */
  private type PerKey = Seq[(Any, Seq[(Double, Long)])]

  /** Rank regime of one column, decided on the driver from a probe. */
  private sealed trait GroupRankPlan
  /** the [[graft.functions.MidrankLookup]] kernel over exact counts */
  private final case class Kernel(perKey: PerKey) extends GroupRankPlan
  /** [[Reductions.withGroupMidrankFixed]] over exact bucket counts */
  private final case class FixedBuckets(perKey: PerKey) extends GroupRankPlan
  /** [[Reductions.withMidrankBy]], cut points probed at attach time */
  private case object QuantileWindow extends GroupRankPlan

  /** Exact (key, value) counts of every column in ONE hash aggregate
    * (an Expand of k grouping sets), or None when the result would
    * exceed `k × gate` rows. */
  private def groupValueCounts(df: DataFrame, key: String,
      cols: Seq[String], gate: Long): Option[IndexedSeq[PerKey]] = {
    val k = cols.size
    val vs = cols.indices.map(i => col(s"__v$i"))
    val slim = df.select(col(key).as("__k") +: cols.zipWithIndex.map {
      case (c, i) => col(c).cast("double").as(s"__v$i") }: _*)
    val cap = math.min(k * gate, Int.MaxValue - 1L)
    val rows = slim
      .groupingSets(vs.map(v => Seq(col("__k"), v)), col("__k") +: vs: _*)
      .agg(grouping_id().as("__gid"), count(lit(1)).as("__n"))
      .limit((cap + 1).toInt).collect()
    if (rows.length > cap) None
    else {
      // grouping_id sets a bit per column NOT in the set, first column
      // most significant: set i groups (__k, __v<i>)
      val setOf = cols.indices.map(i =>
        ((1L << k) - 1 - (1L << (k - 1 - i))) -> i).toMap
      val by = rows.groupBy(r => setOf(r.getAs[Number](k + 1).longValue))
      Some(cols.indices.map { i =>
        by.getOrElse(i, Array.empty).filter(!_.isNullAt(1 + i))
          .groupBy(_.get(0)).toSeq.map { case (kv, rs) =>
            (kv, rs.toSeq.map(r => (r.getDouble(1 + i), r.getLong(k + 2))))
          }
      })
    }
  }

  /** Regimes from exact (key, value) counts: the kernel while the
    * column's table fits the gate and its values are exact doubles,
    * else fixed buckets summed from the same counts. */
  private def countPlans(df: DataFrame, cols: Seq[String], gate: Long,
      counts: Seq[PerKey]): Seq[GroupRankPlan] =
    cols.zip(counts).map { case (c, h) =>
      if (h.map(_._2.size).sum <= gate && Reductions.exactAsDouble(
          df.schema(c).dataType, h.iterator.flatMap(_._2.map(_._1))))
        Kernel(h)
      else FixedBuckets(h.map { case (k, vs) => (k, vs
        .groupBy(v => SortableBucket.bucketOf(v._1, 18))
        .map { case (b, bs) => (b.toDouble, bs.map(_._2).sum) }.toSeq) })
    }

  /** The probe sequence for inputs too big for the one-shot probe: NDV
    * gates, then (few keys) one grouped histogram probe, or (many keys)
    * exact counts of the columns that fit the gate. */
  private def sequencePlans(df: DataFrame, key: String, cols: Seq[String],
      gate: Long, kernelOk: Boolean): Seq[GroupRankPlan] = {
    val nds = (key +: cols).map(c => approx_count_distinct(col(c)))
    val st = df.agg(nds.head, nds.tail: _*).collect()(0)
    val ndk = st.getLong(0)
    if (ndk <= GroupedProbeMaxKeys && kernelOk)
      histogramPlans(df, Some(key), cols, gate, ndk)._1
    else {
      val fit = cols.indices.filter(i => ndk * st.getLong(1 + i) <= gate)
      val exact = (if (kernelOk && fit.nonEmpty)
          groupValueCounts(df, key, fit.map(cols), gate) else None)
        .map(h => fit.zip(countPlans(df, fit.map(cols), gate, h)).toMap)
        .getOrElse(Map.empty[Int, GroupRankPlan])
      cols.indices.map(exact.getOrElse(_, QuantileWindow))
    }
  }

  /** ONE pass — grouped by `key`, global when there is none — collecting
    * per key and column the exact value histogram (capped so the whole
    * collect stays within the gate), the exact fixed-bucket counts
    * ([[graft.functions.SortableBucket]]) and the NaN count, plus the
    * row count. A column takes the kernel when every key's histogram
    * survived and the table fits the gate, else fixed buckets when every
    * key's bucket counts survived, else the quantile window. Returns the
    * regimes and the probed row count. */
  private def histogramPlans(df: DataFrame, key: Option[String],
      cols: Seq[String], gate: Long, ndk: Long)
    : (Seq[GroupRankPlan], Long) = {
    val capPerKey = math.max(16L, gate / math.max(ndk, 1L)).toInt
    val aggs = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) =>
        val v = col(c).cast("double")
        Seq(Reductions.boundedHistogram(v, capPerKey).as(s"__h$i"),
          Reductions.boundedHistogram(
            SortableBucket.sortableBucket(v).cast("double"), capPerKey)
            .as(s"__b$i"),
          count(when(isnan(v), 1)).as(s"__nan$i")) }
    val rows = df.groupBy(key.map(k => col(k).as("__k")).toSeq: _*)
      .agg(aggs.head, aggs.tail: _*).collect().toSeq
    def histsOf(f: String): PerKey = rows.map { r =>
      val j = r.fieldIndex(f)
      (if (key.isEmpty) null else r.get(0),
        if (r.isNullAt(j)) null else r.getMap[Double, Long](j).toSeq)
    }
    val plans = cols.indices.map { i =>
      val vh = histsOf(s"__h$i"); val bh = histsOf(s"__b$i")
      val nans = rows.map(r => r.getLong(r.fieldIndex(s"__nan$i")))
      // the value histograms skip NaN: the kernel's table adds it back
      if (vh.forall(_._2 != null) &&
          vh.map(_._2.size).sum + nans.count(_ > 0) <= gate &&
          Reductions.exactAsDouble(df.schema(cols(i)).dataType,
            vh.iterator.flatMap(_._2.map(_._1))))
        Kernel(vh.zip(nans).map { case ((k, h), nc) =>
          (k, if (nc > 0) h :+ (Double.NaN -> nc) else h) })
      else if (bh.forall(_._2 != null)) FixedBuckets(bh)
      else QuantileWindow
    }
    (plans, rows.map(r => r.getLong(r.fieldIndex("__n"))).sum)
  }

  /** Attach each column's midrank as `outs(i)` by its regime, within
    * `key` groups (over the whole frame when there is none): one window
    * per window-regime column, then ALL kernel columns in one
    * projection (after the windows, so kernel ranks never ride their
    * shuffles).
    * Fixed buckets that would overflow the gate or put more than 20% of
    * the rows in one (key, bucket) partition take the quantile window;
    * quantile-window columns get their cut points from ONE batched
    * approxQuantile job. `width` > 0 sizes the windows' shuffles
    * ([[Reductions.sortWidth]]). */
  private def attachRanks(df: DataFrame, key: Option[String],
      cols: Seq[String], outs: Seq[String], gate: Long,
      plans: Seq[GroupRankPlan], width: Int): DataFrame = {
    val spark = df.sparkSession
    // floor 2: a defaultParallelism==1 session would degenerate the
    // quantile bucket count; an extra bucket is placement-only
    val dp = math.max(spark.sparkContext.defaultParallelism, 2)
    val n = if (width > 0) math.max(dp, math.min(2 * width, 4096)) else dp
    val regimes = plans.map {
      case FixedBuckets(bh) if bh.map(_._2.size).sum > gate ||
          !Reductions.fixedBucketsBalanced(bh.flatMap(_._2)) => QuantileWindow
      case p => p
    }
    val windowed = cols.indices.filter(regimes(_) == QuantileWindow)
    val cuts: Map[Int, Array[Double]] =
      if (windowed.isEmpty) Map.empty
      else windowed.zip(df.select(windowed.map(i =>
          col(cols(i)).cast("double").as(s"__qc$i")): _*)
        .stat.approxQuantile(windowed.map(i => s"__qc$i").toArray,
          (1 until n).map(_.toDouble / n).toArray, 0.01)
        .map(_.distinct.sorted)).toMap
    val slim = df.select((key.toSeq ++ cols).map(col): _*)
    val ranked = cols.indices.foldLeft(df) { (d, i) => regimes(i) match {
      case Kernel(_) => d
      case FixedBuckets(bh) => Reductions.withGroupMidrankFixed(d, key,
        cols(i), outs(i), bh, width)
      case QuantileWindow => Reductions.withMidrankBy(d, key, cols(i),
        outs(i), n, knownCuts = Some(cuts(i)), statsSource = Some(slim),
        width = width)
    } }
    val (keyCol, keyType) = key.fold[(Column, DataType)]((lit(null), NullType))(
      k => (col(k), df.schema(k).dataType))
    val kernels = cols.indices.flatMap(i => regimes(i) match {
      case Kernel(perKey) => Some(MidrankLookup.midrankBy(spark, keyCol,
        keyType, col(cols(i)), perKey).as(outs(i)))
      case _ => None
    })
    if (kernels.isEmpty) ranked else ranked.select(col("*") +: kernels: _*)
  }

  /** pandas `groupby(key).corr(method='kendall')` — per-group tau-b
    * matrix in long form (key, c1, c2, kendall), upper triangle incl.
    * the diagonal, completing [[corrMatrixBy]]'s method set. pandas
    * runs scipy's kendalltau per group; the analogue here is ONE typed
    * flatMapGroups after one shuffle on the key: each group's k
    * columns buffer into arrays (GROUP-sized memory — the same
    * contract as pandas' per-group kernel and GroupBy.p_apply) and
    * Knight's O(n log n) tau runs per pair, groups in parallel across
    * executors. `maxGroupRows` fails fast on a group too large to
    * buffer (route that group's slice through [[kendallDistributed]]).
    * Cells are pairwise-masked (rows with null/NaN in either column of
    * the pair drop, like scipy's nan_policy='omit' path pandas uses);
    * OFF-diagonal degenerate (constant-side) cells are null; the
    * diagonal is LITERAL 1.0 without invoking the kernel — the
    * reference's unconditional `np.fill_diagonal(result_mat, 1)`, same
    * rule as [[corrMatrixWith]], so a within-group-constant column
    * still self-correlates at 1 (this matches the REFERENCE's
    * unconditional diagonal fill; actual pandas would NaN a diagonal
    * cell whose column has fewer than min_periods valid values —
    * reference-parity wins the tie, documented deviation). Null
    * grouping keys drop (pandas groupby dropna=True, like
    * [[GroupOps.agg]]). The TYPED key value rides through the group
    * output itself (first row of each group) — no string round-trip
    * join-back, no second scan of a possibly non-deterministic
    * upstream (ADVICE r10). Groups are keyed on an injective string
    * form of the key ([[groupKeyString]]): primitives via
    * `String.valueOf`, binary via hex (a raw `Array[Byte].toString` is
    * per-OBJECT identity and would shatter equal byte keys into one
    * group per row), arrays/structs element-wise. The one residual
    * split vs `groupBy` is -0.0/0.0 doubles (string-splits where
    * groupBy would merge). */
  /** Injective string form of a group-key value for `groupByKey`.
    * `String.valueOf` alone is identity-hash for `Array[Byte]` (Spark
    * BinaryType surfaces as a JVM array), which would put EQUAL binary
    * keys in different groups — encode binary as hex and recurse into
    * containers instead. Container ELEMENTS are length-prefixed
    * (`<len>:<token>`) so a separator character inside a string element
    * can never alias two distinct keys (Seq("a,b") vs Seq("a","b")),
    * and strings/nulls carry a type tag so a string element can never
    * collide with the null marker or a container rendering -- the same
    * scheme as snapshotDiff's digest. */
  private[graft] def groupKeyString(v: Any): String = v match {
    case null => "n"
    case s: String => "s" + s
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(keyToken).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] =>
      s.map(keyToken).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(keyToken).mkString("(", ",", ")")
    case other => String.valueOf(other)
  }
  /** Length-prefixed element token: the prefix fixes where each token
    * ends, making container encodings injective given injective element
    * encodings. */
  private def keyToken(v: Any): String = {
    val e = groupKeyString(v); e.length + ":" + e
  }

  def kendallMatrixBy(df: DataFrame, key: String, cols: Seq[String],
                      maxGroupRows: Int = 2000000,
                      minPeriods: Int = 1): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val k = cols.size
    require(k >= 1, "kendallMatrixBy: need at least one column")
    val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
    val slim = df.filter(col(key).isNotNull)
      .select(col(key).as("__k"),
        array(cols.map(c =>
          coalesce(col(c).cast("double"), lit(Double.NaN))): _*).as("__vs"))
    val outSchema = StructType(Seq(
      StructField(key, slim.schema("__k").dataType),
      StructField("c1", StringType, nullable = false),
      StructField("c2", StringType, nullable = false),
      StructField("kendall", DoubleType)))
    slim.groupByKey(r => groupKeyString(r.get(0)))(Encoders.STRING)
      .flatMapGroups { (ks: String, it: Iterator[Row]) =>
        var keyVal: Any = null
        val rows = new scala.collection.mutable.ArrayBuffer[Seq[Double]]
        it.foreach { r =>
          require(rows.size < maxGroupRows,
            s"kendallMatrixBy: group '$ks' exceeds maxGroupRows=" +
              s"$maxGroupRows — use kendallDistributed on its slice")
          if (rows.isEmpty) keyVal = r.get(0)
          rows += r.getSeq[Double](1)
        }
        pairs.iterator.map { case (i, j) =>
          if (i == j) Row(keyVal, cols(i), cols(j), 1.0) // fill_diagonal
          else {
            val xs = Array.newBuilder[Double]
            val ys = Array.newBuilder[Double]
            rows.foreach { r =>
              val x = r(i); val y = r(j)
              if (!x.isNaN && !y.isNaN) { xs += x; ys += y }
            }
            val xa = xs.result(); val ya = ys.result()
            val tau: java.lang.Double =
              if (xa.length < minPeriods) null else knightTau(xa, ya)
            Row(keyVal, cols(i), cols(j), tau)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** pandas `groupby(key).cov(ddof=1)`: per-group covariance matrix in
    * long form (key, c1, c2, cov) — same one-grouped-aggregate shape as
    * [[corrMatrixBy]], with per-group variances on the diagonal. */
  def covMatrixBy(df0: DataFrame, key: String, cols: Seq[String],
                  minPeriods: Int = 1): DataFrame = {
    val df = df0.filter(col(key).isNotNull) // pandas groupby dropna=True
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(covar_samp(col(a), col(b)).as(s"${a}__$b"),
        count(when(col(a).isNotNull && col(b).isNotNull, 1))
          .as(s"${a}__${b}__n"))
    }
    val one = df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods THEN `${a}__$b` END"
    }.mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, cov)")
    one.select(col(key), expr(stacked))
  }

  /** Pairwise covariance matrix (pandas `DataFrame.cov(ddof=1,
    * min_periods)`) in long form (c1, c2, cov), upper triangle plus the
    * diagonal (pandas' cov matrix carries per-column variance there).
    * `covar_samp` masks pairwise-incomplete rows like pandas; the
    * min_periods gate nulls under-observed cells. One aggregate pass —
    * all k(k+1)/2 co-moments are map-side combinable. */
  def covLong(df: DataFrame, cols: Seq[String], minPeriods: Int = 1): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(covar_samp(col(a), col(b)).as(s"${a}__$b"),
        count(when(col(a).isNotNull && col(b).isNotNull, 1)).as(s"${a}__${b}__n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods THEN `${a}__$b` END"
    }.mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, cov)")
    one.select(expr(stacked))
  }

  /** Spearman rho for one pair: pearson over average ranks, computed
    * by [[rankedFrame]] (one probe, then the kernel or a bucketed
    * midrank window per column) plus one corr aggregate.
    *
    * Rows where either side is null or NaN drop before ranking — pandas
    * masks the pair first and ranks the common rows. `bigBytes`: see
    * [[rankedFrame]]. */
  def spearman(df: DataFrame, a: String, b: String,
               bigBytes: Long = Reductions.SortBigBytes): DataFrame =
    rankedFrame(df, Seq(a, b), bigBytes)._1
      .agg(Core.safeCorr(col("__r0"), col("__r1")).as("spearman"))

  /** Full spearman matrix over `cols`, long form (c1, c2, spearman),
    * upper triangle — pandas `p_corr(method='spearman')` on a k-column
    * frame (`parallel_dataframe.py:285-325`; the reference fans the
    * upper triangle out to a pool, `:279`).
    *
    * ONE stats job for ALL columns ([[rankedFrame]]'s probe): a single
    * aggregate computes every column's bounded exact value histogram
    * AND its fixed-bucket counts in one pass. Each column is then
    * ranked ONCE — midrank kernel lookup when low-cardinality,
    * bucketed midrank window otherwise — and one final aggregate
    * evaluates all k(k-1)/2 rank correlations. Total: 1 probe job + 1
    * main job, independent of k.
    *
    * Null handling: LISTWISE deletion (rows with a null/NaN in any of
    * `cols` are dropped before ranking) — ranking each column once is
    * only meaningful over a common row set. pandas masks per PAIR;
    * identical when nulls are absent (the common case for numeric
    * matrices). For pairwise-exact semantics on null-laden data, call
    * the single-pair [[spearman]] per pair. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val (ranked, pairs) = rankedFrame(df, cols)
    val corrAggs = pairs.map { case (i, j) =>
      Core.safeCorr(col(s"__r$i"), col(s"__r$j")).as(s"s${i}_$j") }
    val one = ranked.agg(corrAggs.head, corrAggs.tail: _*)
    val stacked = pairs.map { case (i, j) =>
      s"'${cols(i)}', '${cols(j)}', `s${i}_$j`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (c1, c2, spearman)")
    one.select(expr(stacked))
  }

  /** Shared prestep of [[spearman]] and the matrix forms: the
    * listwise-complete frame (`__c<i>` value, `__r<i>` midrank, in that
    * order) plus the upper-triangle index pairs. Ungrouped rank is
    * [[withGroupMidranks]]' rank with no key: the same
    * [[histogramPlans]] probe (ONE job for all columns) picks each
    * column's regime — the kernel for low-NDV columns (no shuffle of
    * the frame), else a fixed-bucket window whose offsets come straight
    * from the probe, else (buckets too imbalanced: >20% of rows in one,
    * concentration inside ≲2⁻⁶ relative width) the quantile-cut window
    * — and [[attachRanks]] attaches them.
    *
    * The window sort sizes its OWN shuffle from input volume (VERDICT
    * r13 item 1): below a plan-stats gate (`bigBytes`, default
    * [[Reductions.SortBigBytes]]) small inputs keep the session width;
    * above it the probe's row count drives [[Reductions.sortWidth]].
    * Regime, buckets and width affect placement only, never rank
    * values — pinned by GroupCorrSpec's forced-big-path equality. */
  private[graft] def rankedFrame(df: DataFrame, cols: Seq[String],
      bigBytes: Long = Reductions.SortBigBytes)
    : (DataFrame, Seq[(Int, Int)]) = {
    val spark = df.sparkSession
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val keep = cols.map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
      .reduce(_ && _)
    val vals = cols.indices.map(i => s"__c$i")
    val outs = cols.indices.map(i => s"__r$i")
    val base = df.filter(keep).select(cols.zip(vals).map { case (c, v) =>
      col(c).cast("double").as(v) }: _*)
    val gate = Reductions.groupRankStatsMaxRows(spark)
    val (plans, rows) = histogramPlans(base, None, vals, gate, 1L)
    val width =
      if (base.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(bigBytes)) 0
      else Reductions.sortWidth(rows, 2 * k + 2, // values, ranks, bucket, offset
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val ranked = attachRanks(base, None, vals, outs, gate, plans, width)
      .select((vals ++ outs).map(col): _*)
    (ranked, for { i <- 0 until k; j <- (i + 1) until k } yield (i, j))
  }

  /** Pearson AND spearman matrices in ONE main job (long form: c1, c2,
    * pearson, spearman): the final aggregate evaluates raw-value and
    * rank correlations for every pair over the same ranked frame, so
    * the whole two-method matrix costs 1 stats probe + 1 aggregate at
    * any column count. `withKendall` joins the Knight-tau matrix on
    * top: the bounded-collect [[kendallMatrix]] while the listwise
    * frame fits `kendallMaxRows`, automatically escalating to the
    * unbounded [[kendallMatrixDistributed]] (on the same listwise
    * mask, so semantics are identical) above it — the full
    * three-method matrix no longer has a row ceiling.
    * Listwise-complete masking across `cols`, like the other matrix
    * forms. */
  def corrMatrixAll(df: DataFrame, cols: Seq[String],
                    withKendall: Boolean = false,
                    kendallMaxRows: Long = 0L): DataFrame = {
    // 0 = auto: byte-aware default (≤256 MB of driver heap at this k)
    val kMaxRows =
      if (kendallMaxRows > 0) kendallMaxRows
      else kendallCollectMaxRows(cols.size)
    val (ranked, pairs) = rankedFrame(df, cols)
    val corrAggs = pairs.flatMap { case (i, j) => Seq(
      Core.safeCorr(col(s"__c$i"), col(s"__c$j")).as(s"p${i}_$j"),
      Core.safeCorr(col(s"__r$i"), col(s"__r$j")).as(s"s${i}_$j")) }
    val one = ranked.agg(corrAggs.head, corrAggs.tail: _*)
    val stacked = pairs.map { case (i, j) =>
      s"'${cols(i)}', '${cols(j)}', `p${i}_$j`, `s${i}_$j`" }
      .mkString(s"stack(${pairs.size}, ", ", ",
        ") as (c1, c2, pearson, spearman)")
    val ps = one.select(expr(stacked))
    if (withKendall) {
      val keep = cols.map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
        .reduce(_ && _)
      val km =
        if (df.filter(keep).limit((kMaxRows + 1).min(Int.MaxValue).toInt)
            .count() <= kMaxRows)
          kendallMatrix(df, cols, kMaxRows)
        else kendallMatrixDistributed(df.filter(keep), cols)
      ps.join(km, Seq("c1", "c2"))
    } else ps
  }

  /** PAIRWISE-complete pearson + spearman matrix — pandas `df.corr()`
    * semantics on NaN-laden frames (`parallel_dataframe.py:266-275`,
    * mirrored by the reference's own NaN test
    * `tests/test_apply_corr.py:43-48`): every cell (i, j) is computed
    * over the rows where BOTH columns are non-null/non-NaN, and nulled
    * when that pair count is below `minPeriods`. The listwise matrix
    * forms ([[corrMatrixAll]]/[[spearmanMatrix]]) are identical on
    * null-free frames and ~k× cheaper — use them there; this is the
    * exact form for data with holes.
    *
    * Scale shape: TWO jobs at any column count. Probe: all k(k-1)/2
    * pearson cells, their pair counts, AND the bounded exact histogram
    * of each column masked to each pair's complete rows ride ONE
    * aggregate pass (Spark's `corr` masks null pairs natively; the
    * masked histograms are the batched form of [[spearman]]'s per-pair
    * probe — map-side combinable, no shuffle of the frame). Main: each
    * masked midrank is attached via the midrank kernel over its
    * histogram (the frame is never shuffled or sorted) and one
    * final aggregate evaluates every rank correlation. A pair whose
    * masked column exceeds the histogram's cardinality bound (65536
    * distinct) falls back to the single-pair [[spearman]] —
    * distributed bucketed midrank, one bounded extra job per such
    * pair. Long form (c1, c2, pearson, spearman, n), upper
    * triangle. */
  def corrMatrixPairwise(df: DataFrame, cols: Seq[String],
                         minPeriods: Int = 1): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    val spark = df.sparkSession
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val base = df.select(cols.zipWithIndex.map { case (c, i) =>
      val d = col(c).cast("double")
      when(!isnan(d), d).as(s"__c$i")
    }: _*)
    val pairs = for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)
    val ordered = pairs.flatMap { case (i, j) => Seq((i, j), (j, i)) }
    // ---- probe: pearson + count + per-pair masked histograms, one pass
    val probeAggs = pairs.flatMap { case (i, j) => Seq(
        Core.safeCorr(col(s"__c$i"), col(s"__c$j")).as(s"p${i}_$j"),
        count(when(col(s"__c$i").isNotNull && col(s"__c$j").isNotNull, 1))
          .as(s"n${i}_$j")) } ++
      ordered.map { case (i, j) =>
        Reductions.boundedHistogram(
          when(col(s"__c$j").isNotNull, col(s"__c$i"))).as(s"h${i}_$j") }
    val st = base.agg(probeAggs.head, probeAggs.tail: _*).collect()(0)
    def histOf(i: Int, j: Int): Seq[(Double, Long)] = {
      val f = st.fieldIndex(s"h${i}_$j")
      if (st.isNullAt(f)) null else st.getMap[Double, Long](f).toSeq
    }
    val (batched, overflow) = pairs.partition { case (i, j) =>
      histOf(i, j) != null && histOf(j, i) != null }
    // ---- main (LAZY): broadcast-join every masked midrank onto one
    //      frame, evaluate all rank correlations in one aggregate
    val batchedCells: Option[DataFrame] =
      if (batched.isEmpty) None
      else {
        var ranked = base
        batched.flatMap { case (i, j) => Seq((i, j), (j, i)) }
          .foreach { case (i, j) =>
            // the kernel sees exactly the masked input its histogram
            // counted: rows outside the pair's mask rank null
            ranked = ranked.withColumn(s"__r${i}_$j",
              MidrankLookup.midrank(spark,
                when(col(s"__c$j").isNotNull, col(s"__c$i")), histOf(i, j)))
          }
        val cellAggs = batched.map { case (i, j) =>
          Core.safeCorr(col(s"__r${i}_$j"), col(s"__r${j}_$i")).as(s"s${i}_$j") }
        val one = ranked.agg(cellAggs.head, cellAggs.tail: _*)
        val stacked = batched.map { case (i, j) =>
          s"'${cols(i)}', '${cols(j)}', `s${i}_$j`" }
          .mkString(s"stack(${batched.size}, ", ", ", ") as (c1, c2, __s)")
        Some(one.select(expr(stacked)))
      }
    val fallbackCells = overflow.map { case (i, j) =>
      spearman(base, s"__c$i", s"__c$j")
        .select(lit(cols(i)).as("c1"), lit(cols(j)).as("c2"),
          col("spearman").as("__s"))
    }
    val sp = (batchedCells.toSeq ++ fallbackCells).reduce(_ unionByName _)
    // pearson + n are already on the driver from the probe: a
    // |pairs|-row LocalRelation joined to the lazy spearman cells
    val pe = spark.createDataFrame(
      java.util.Arrays.asList(pairs.map { case (i, j) =>
        val pf = st.fieldIndex(s"p${i}_$j")
        Row(cols(i), cols(j),
          if (st.isNullAt(pf)) null else st.getDouble(pf),
          st.getLong(st.fieldIndex(s"n${i}_$j")))
      }: _*),
      StructType(Seq(
        StructField("c1", StringType), StructField("c2", StringType),
        StructField("__p", DoubleType),
        StructField("n", LongType, nullable = false))))
    pe.join(sp, Seq("c1", "c2"), "left")
      .select(col("c1"), col("c2"),
        when(col("n") >= minPeriods, col("__p")).as("pearson"),
        when(col("n") >= minPeriods, col("__s")).as("spearman"),
        col("n"))
  }

  /** PAIRWISE-complete kendall tau-b matrix — pandas
    * `df.corr(method='kendall')` semantics on NaN-laden frames
    * (companion to [[corrMatrixPairwise]]): each cell (i, j) masks ITS
    * OWN pair of columns and is nulled when its pair count is below
    * `minPeriods`. Same scale shape as [[kendallMatrix]] — ONE bounded
    * collect + the 8-thread driver Knight pool — but rows with ANY
    * complete pair are kept (nulls travel as NaN) and each pair
    * compacts its own mask before the O(n log n) tau. Long form
    * (c1, c2, kendall, n), upper triangle. */
  def kendallMatrixPairwise(df: DataFrame, cols: Seq[String],
                            maxRows: Long = 0L,
                            minPeriods: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val k = cols.size
    require(k >= 2, "kendallMatrixPairwise: need at least two columns")
    // 0 = auto: byte-aware default (≤256 MB of driver heap at this k)
    val bound = if (maxRows > 0) maxRows else kendallCollectMaxRows(k)
    val nonNull = cols.map(c =>
      when(col(c).isNotNull && !isnan(col(c).cast("double")), 1).otherwise(0))
      .reduce(_ + _)
    val rows = df.filter(nonNull >= 2)
      .select(cols.map(c =>
        coalesce(col(c).cast("double"), lit(Double.NaN))): _*)
      .limit((bound + 1).min(Int.MaxValue).toInt).collect()
    require(rows.length <= bound,
      s"kendallMatrixPairwise collects the projected columns; input " +
        s"exceeds maxRows=$bound — use kendallApprox per pair")
    val n = rows.length
    val data = Array.ofDim[Double](k, n)
    var r = 0
    while (r < n) {
      var i = 0
      while (i < k) { data(i)(r) = rows(r).getDouble(i); i += 1 }
      r += 1
    }
    val pairIdx = for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(pairIdx.size, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val out =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(pairIdx.map { case (i, j) =>
          scala.concurrent.Future {
            // compact this pair's mask once; NaN marks a hole
            val xs = new scala.collection.mutable.ArrayBuffer[Double](n)
            val ys = new scala.collection.mutable.ArrayBuffer[Double](n)
            var t = 0
            while (t < n) {
              val x = data(i)(t); val y = data(j)(t)
              if (!x.isNaN && !y.isNaN) { xs += x; ys += y }
              t += 1
            }
            val tau: Any =
              if (xs.length < minPeriods) null
              else knightTau(xs.toArray, ys.toArray)
            org.apache.spark.sql.Row(cols(i), cols(j), tau, xs.length.toLong)
          }
        }), scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("c1", StringType),
        StructField("c2", StringType), StructField("kendall", DoubleType),
        StructField("n", LongType))))
  }

  /** Full kendall tau-b matrix over `cols`, long form (c1, c2, kendall),
    * upper triangle — pandas `p_corr(method='kendall')`. ONE bounded
    * listwise-complete collect shared by all pairs, then Knight's
    * O(n log n) tau ([[kendallFast]]'s core) per pair on the driver —
    * k(k-1)/2 in-memory sorts instead of k(k-1)/2 cluster jobs. Same
    * `maxRows` contract as [[kendallFast]]; above it, sample per pair
    * with [[kendallApprox]]. */
  def kendallMatrix(df: DataFrame, cols: Seq[String],
                    maxRows: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val k = cols.size
    require(k >= 2, "kendallMatrix: need at least two columns")
    // 0 = auto: byte-aware default (≤256 MB of driver heap at this k)
    val bound = if (maxRows > 0) maxRows else kendallCollectMaxRows(k)
    val keep = cols.map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
      .reduce(_ && _)
    val rows = df.filter(keep)
      .select(cols.map(c => col(c).cast("double")): _*)
      .limit((bound + 1).min(Int.MaxValue).toInt).collect()
    require(rows.length <= bound,
      s"kendallMatrix collects the projected columns; input exceeds " +
        s"maxRows=$bound — use kendallMatrixDistributed or " +
        "kendallApprox per pair")
    val n = rows.length
    val data = Array.ofDim[Double](k, n)
    var r = 0
    while (r < n) {
      var i = 0
      while (i < k) { data(i)(r) = rows(r).getDouble(i); i += 1 }
      r += 1
    }
    // k(k-1)/2 independent O(n log n) sorts — run them on a bounded
    // driver pool (same pattern as describe's per-column stats) instead
    // of serially; at 12 columns that is 66 taus across 8 threads.
    val pairIdx = for { i <- 0 until k; j <- (i + 1) until k } yield (i, j)
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(pairIdx.size, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val out =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(pairIdx.map { case (i, j) =>
          scala.concurrent.Future(
            org.apache.spark.sql.Row(cols(i), cols(j),
              knightTau(data(i), data(j))))
        }), scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("c1", StringType),
        StructField("c2", StringType), StructField("kendall", DoubleType))))
  }

  /** pandas `p_corr(method=…)` matrix dispatch: full col×col matrix in
    * long form for all three methods. For `method=callable`
    * (`parallel_dataframe.py:285,311`) use [[corrMatrixWith]]. */
  def corrMatrix(df: DataFrame, cols: Seq[String],
                 method: String = "pearson"): DataFrame = method match {
    case "pearson"  => pearsonLong(df, cols)
    case "spearman" => spearmanMatrix(df, cols)
    case "kendall"  => kendallMatrix(df, cols)
    case other => throw new IllegalArgumentException(
      s"corr method: $other (pearson|spearman|kendall; " +
        "for method=callable use corrMatrixWith)")
  }

  /** pandas `p_corr(method=callable)` — the reference masks each pair
    * to its finite rows and calls `corrf(a, b)` per pair
    * (`parallel_dataframe.py:265-283`). The Spark-first hook takes the
    * callable as an AGGREGATE-expression builder `(x, y) => Column`
    * (builtin functions, or `udaf(Aggregator)` for arbitrary typed
    * logic), so ONE ungrouped aggregate computes every k(k+1)/2 cell
    * distributively with map-side partials — no per-pair collect, no
    * driver arrays, unlike the reference's in-memory `mat[:, i]` form.
    * Each cell sees ITS OWN pairwise-finite mask (both inputs null on
    * incomplete rows — `np.isfinite`, so ±Inf rows are excluded too)
    * and is gated on `minPeriods` complete pairs like the named
    * methods. Diagonal cells are emitted as literal 1.0 without
    * invoking the callable, matching the reference's
    * `np.fill_diagonal(result_mat, 1)` — a zero-variance column still
    * self-correlates at 1, and a covariance-style callable doesn't
    * leak its own diagonal. DOCUMENTED DEVIATION from actual pandas
    * `DataFrame.corr`, which NaNs a diagonal cell when the column's
    * valid count is below min_periods: the reference fills the
    * diagonal unconditionally and reference-parity wins the tie
    * (same rule in [[kendallMatrixBy]]). */
  def corrMatrixWith(df: DataFrame, cols: Seq[String],
                     corrf: (Column, Column) => Column,
                     minPeriods: Int = 1): DataFrame = {
    if (cols.isEmpty) {
      // pandas df.corr over zero numeric columns -> empty frame
      import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
      return df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("c1", StringType),
          StructField("c2", StringType), StructField("corr", DoubleType))))
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val ca = col(a).cast("double"); val cb = col(b).cast("double")
      def fin(c: Column) =
        c.isNotNull && !isnan(c) && abs(c) =!= Double.PositiveInfinity
      val ok = fin(ca) && fin(cb)
      Seq(corrf(when(ok, ca), when(ok, cb)).as(s"${a}__$b"),
        count(when(ok, 1)).as(s"${a}__${b}__n"))
    }
    val one =
      if (aggs.isEmpty) df.agg(count(lit(1)).as("__dummy"))
      else df.agg(aggs.head, aggs.tail: _*)
    val diag = cols.map(a => s"'$a', '$a', CAST(1.0 AS DOUBLE)")
    val off = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN `${a}__${b}__n` >= $minPeriods " +
        s"THEN `${a}__$b` END"
    }
    val stacked = (diag ++ off)
      .mkString(s"stack(${cols.size + pairs.size}, ", ", ",
        ") as (c1, c2, corr)")
    one.select(expr(stacked))
  }

  /** Full pearson matrix for WIDE frames via a NATIVE one-pass Gramian
    * aggregate — no MLlib RDD detour, no k²/2 separate Catalyst
    * aggregate expressions (which bloat codegen past ~100 columns).
    * One `Aggregator` carries a flat (n, sums[k], gram[k(k+1)/2])
    * buffer: O(k²) state per partial, map-side combinable, one row to
    * the driver; the corr matrix falls out of the moments there. Rows
    * with a null/NaN in any column are skipped (listwise — the same
    * masking as the MLlib `handleInvalid="skip"` path and
    * [[corrMatrixAll]]). Same raw-moment arithmetic as MLlib's Gramian. */
  def pearsonLongGramian(df: DataFrame, cols: Seq[String]): DataFrame = {
    val k = cols.size
    require(k >= 2, "corr matrix: need at least two columns")
    val agg = new org.apache.spark.sql.expressions.Aggregator[
        Seq[Double], Array[Double], Array[Double]] {
      private val len = 1 + k + k * (k + 1) / 2
      def zero: Array[Double] = new Array[Double](len)
      def reduce(b: Array[Double], xs: Seq[Double]): Array[Double] = {
        b(0) += 1
        var i = 0; var g = 1 + k
        while (i < k) {
          val x = xs(i)
          b(1 + i) += x
          var j = i
          while (j < k) { b(g) += x * xs(j); g += 1; j += 1 }
          i += 1
        }
        b
      }
      def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
        var i = 0
        while (i < len) { a(i) += b(i); i += 1 }
        a
      }
      def finish(b: Array[Double]): Array[Double] = b
      def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Double]]
      def outputEncoder = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Double]]()
    }
    val keep = cols.map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
      .reduce(_ && _)
    val gramUdaf = udaf(agg)
    val m = df.filter(keep)
      .select(gramUdaf(array(cols.map(col(_).cast("double")): _*)).as("m"))
      .collect()(0).getSeq[Double](0)
    val n = m(0)
    def sum(i: Int) = m(1 + i)
    // flat upper-triangle offset of (i, j), i <= j
    def gram(i: Int, j: Int) = m(1 + k + i * k - i * (i - 1) / 2 + (j - i))
    def cov(i: Int, j: Int) = gram(i, j) - sum(i) * sum(j) / n
    val rows = for { i <- 0 until k; j <- (i + 1) until k } yield {
      val d = math.sqrt(cov(i, i) * cov(j, j))
      val r: java.lang.Double = if (n == 0 || d == 0) null else cov(i, j) / d
      org.apache.spark.sql.Row(cols(i), cols(j), r)
    }
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("c1", StringType),
        StructField("c2", StringType), StructField("corr", DoubleType))))
  }

  /** Full pearson matrix via MLlib for WIDE frames (hundreds of
    * columns): assembles a vector column and computes the Gramian once,
    * instead of k^2/2 separate co-moment aggregates. Returns long form
    * (c1, c2, corr), upper triangle — same shape as [[pearsonLong]]. */
  def pearsonLongWide(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.linalg.Matrix
    import org.apache.spark.ml.stat.Correlation
    val assembled = new VectorAssembler()
      .setInputCols(cols.toArray).setOutputCol("__v")
      .setHandleInvalid("skip")
      .transform(df.select(cols.map(col): _*))
    val m = Correlation.corr(assembled, "__v", "pearson")
      .head().getAs[Matrix](0)
    val rows = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j), m(i, j))
    df.sparkSession.createDataFrame(rows).toDF("c1", "c2", "corr")
  }

  /** Kendall tau-b over a BOUNDED frame: self-join pairwise counting.
    * tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)).
    *
    * The pairwise form is O(n²) by construction (so is the reference's
    * kernel), so this GUARDS eagerly: one count job, and anything over
    * `maxExactRows` fails fast with a pointer at [[kendallApprox]]
    * instead of silently launching an n² broadcast-nested-loop join.
    * The default bound (100k rows -> 10^10 sign pairs) is already
    * minutes of cluster work — raise it knowingly or sample. */
  def kendall(df: DataFrame, a: String, b: String,
              maxExactRows: Long = 100000): DataFrame = {
    val base = df.select(col(a).as("x"), col(b).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val n = base.count()
    require(n <= maxExactRows,
      s"exact kendall is O(n^2) and the frame has $n rows " +
        s"(> maxExactRows=$maxExactRows); use kendallApprox, or raise " +
        "maxExactRows explicitly if you really mean it")
    kendallUnguarded(base)
  }

  private def kendallUnguarded(base0: DataFrame): DataFrame = {
    val base = base0.withColumn("i", monotonically_increasing_id())
    val l = base.select(col("i").as("i1"), col("x").as("x1"), col("y").as("y1"))
    val r = base.select(col("i").as("i2"), col("x").as("x2"), col("y").as("y2"))
    val pairs = l.join(r, col("i1") < col("i2"))
    val sgn = (p: Column, q: Column) => when(p < q, 1).when(p > q, -1).otherwise(0)
    pairs.agg(
      sum(sgn(col("x1"), col("x2")) * sgn(col("y1"), col("y2"))).cast("double").as("cd"),
      count(lit(1)).cast("double").as("n0"),
      sum(when(col("x1") === col("x2"), 1).otherwise(0)).cast("double").as("tx"),
      sum(when(col("y1") === col("y2"), 1).otherwise(0)).cast("double").as("ty")
    ).select(
      (col("cd") / sqrt((col("n0") - col("tx")) * (col("n0") - col("ty"))))
        .as("kendall"))
  }

  /** Exact Kendall tau-b in O(n log n) — Knight's algorithm (merge-sort
    * inversion counting) instead of the O(n²) pairwise join:
    *   tau_b = (n0 - n1 - n2 + n3 - 2S) / sqrt((n0-n1)(n0-n2))
    * with n0 = n(n-1)/2, n1/n2 = tie-pair counts of x/y, n3 = joint-tie
    * pairs, and S = inversions of the y sequence after sorting by
    * (x, y). The heavy lifting (null filter + projection) is
    * distributed; the sorted inversion count runs on the driver over a
    * bounded collect (`maxRows`; 0 = the byte-aware
    * [[kendallCollectMaxRows]] default, ~1.7M rows ≈ 256 MB of boxed
    * driver Rows — the same "eager bounded finish" contract as
    * describe's quantile sorts). Above the bound use
    * [[kendallDistributed]] (exact) or [[kendallApprox]]. Identical
    * value to [[kendall]] on any input. */
  def kendallFast(df: DataFrame, a: String, b: String,
                  maxRows: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    // 0 = auto: byte-aware default (≤256 MB of driver heap for a pair)
    val bound = if (maxRows > 0) maxRows else kendallCollectMaxRows(2)
    val base = df.select(col(a).cast("double").as("x"),
        col(b).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    val rows = base.limit((bound + 1).min(Int.MaxValue).toInt).collect()
    require(rows.length <= bound,
      s"kendallFast collects the pair column; input exceeds maxRows=" +
        s"$bound — use kendallDistributed or kendallApprox")
    val n = rows.length
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = rows(i).getDouble(0); ys(i) = rows(i).getDouble(1); i += 1 }
    val tau = knightTau(xs, ys)
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(tau)),
      StructType(Seq(StructField("kendall", DoubleType))))
  }

  /** Knight's-algorithm tau-b core over in-memory arrays (null when the
    * denominator is 0, i.e. one side is constant). Inputs are not
    * mutated. */
  private[engine] def knightTau(xs: Array[Double], ys: Array[Double]): java.lang.Double = {
    val n = xs.length
    val idx = Array.range(0, n)
    val sorted = idx.sortBy(i => (xs(i), ys(i)))
    val y = sorted.map(ys)
    val n0 = n.toLong * (n - 1) / 2
    val n1 = tieRuns(sorted.map(xs).toIndexedSeq)
    val n3 = tieRuns(sorted.map(i => (xs(i), ys(i))).toIndexedSeq)
    val n2 = tieRuns(y.sorted.toIndexedSeq)
    // inversionCount mutates y in place — y is not read after this
    val swaps = inversionCount(y)
    val denom = math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    if (denom == 0) null else (n0 - n1 - n2 + n3 - 2 * swaps) / denom
  }

  /** Merge-sort inversion count of `y` IN PLACE (returns #pairs i<j
    * with y_i > y_j). */
  private def inversionCount(y: Array[Double]): Long = {
    var swaps = 0L
    val buf = new Array[Double](y.length)
    def merge(lo: Int, mid: Int, hi: Int): Unit = {
      var i = lo; var j = mid; var k = lo
      while (i < mid && j < hi) {
        if (y(i) <= y(j)) { buf(k) = y(i); i += 1 }
        else { buf(k) = y(j); j += 1; swaps += (mid - i) }
        k += 1
      }
      while (i < mid) { buf(k) = y(i); i += 1; k += 1 }
      while (j < hi) { buf(k) = y(j); j += 1; k += 1 }
      System.arraycopy(buf, lo, y, lo, hi - lo)
    }
    def msort(lo: Int, hi: Int): Unit =
      if (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        msort(lo, mid); msort(mid, hi); merge(lo, mid, hi)
      }
    msort(0, y.length)
    swaps
  }

  /** Tie-pair count Σ run·(run-1)/2 over a SORTED key sequence. */
  private def tieRuns[K](keys: IndexedSeq[K]): Long = {
    var pairs = 0L; var run = 1L; var j = 1
    while (j <= keys.length) {
      if (j < keys.length && keys(j) == keys(j - 1)) run += 1
      else { pairs += run * (run - 1) / 2; run = 1 }
      j += 1
    }
    pairs
  }

  /** EXACT distributed Kendall tau-b — the 100 TB path that neither
    * collects the data ([[kendallFast]]) nor samples ([[kendallApprox]]).
    *
    * Grid decomposition: bucket x and y by range cuts (equal values can
    * never split across buckets, so cross-bucket comparisons are
    * strict). Every (a, b) pair falls in exactly one of three classes,
    * each counted exactly:
    *   1. same x-bucket  — per-xb local Knight pass (inversions of y in
    *      (x,y)-sorted order), which also yields the x/(x,y) tie pairs
    *      (ties never cross buckets);
    *   2. different x-bucket, same y-bucket — per-yb pass: total
    *      inversions of the stripe minus the per-(xb,yb)-cell
    *      inversions (those are class 1), plus the y tie pairs;
    *   3. different x-bucket AND different y-bucket — order is fully
    *      determined by bucket indices: Σ m(i,j)·D(i,j) over the B×B
    *      grid count matrix with D the (x-suffix, y-prefix) dominance
    *      sum — O(B²) on the driver from one map-side-combinable
    *      aggregate.
    *
    * Scale shape: two data shuffles (groupBy xb, groupBy yb) with
    * per-group memory n/B (pick `buckets` so a stripe fits an executor;
    * recurse the same decomposition inside a stripe if it ever cannot),
    * one grid aggregate, driver state O(B²). Pair counts accumulate in
    * Long — exact for n up to ~3e9 rows (n² / 2 < 2⁶³). Degenerate
    * frames (≤ a few distinct x or y) collapse toward one stripe; the
    * grid counts expose that BEFORE the stripe passes run, so the
    * guard fails fast with the stripe size instead of OOMing an
    * executor (`maxStripeRows`; a fully-constant side returns null
    * anyway — denominator 0). Identical value to
    * [[kendall]]/[[kendallFast]] on any input. */
  def kendallDistributed(df: DataFrame, a: String, b: String,
                         buckets: Int = 64,
                         maxStripeRows: Long = 50000000L): DataFrame = {
    require(buckets >= 2, s"need buckets>=2, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(a).cast("double").as("x"),
        col(b).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    // range cuts computed ONCE, driver-side (2·B doubles) — evaluating
    // sampled cuts independently in two plan branches would assign
    // inconsistent buckets (the BASELINE.md round-4 lesson)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val q = base.stat.approxQuantile(Array("x", "y"), probs, 0.01)
    val xCuts = q(0).distinct.sorted
    val yCuts = q(1).distinct.sorted
    // the bucketed frame feeds THREE consuming jobs (grid counts, per-xb
    // Knight pass, per-yb stripe pass) — persist it so the scan + bucket
    // assignment run once, not three times; released before returning
    val withB = base
      .withColumn("xb", graft.functions.BucketBin.bucketBin(col("x"), xCuts))
      .withColumn("yb", graft.functions.BucketBin.bucketBin(col("y"), yCuts))
      .as[(Double, Double, Int, Int)]
      .persist()
    try {

    // class-3 pairs from the grid counts
    val nx = xCuts.length + 1; val ny = yCuts.length + 1
    val m = Array.ofDim[Long](nx, ny)
    withB.groupBy(col("xb"), col("yb")).count().collect()
      .foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // the stripe passes hold one stripe in executor memory; the grid
    // knows every stripe size up front, so refuse degenerate inputs
    // loudly before launching them
    val maxX = (0 until nx).map(i => (0 until ny).map(j => m(i)(j)).sum).max
    val maxY = (0 until ny).map(j => (0 until nx).map(i => m(i)(j)).sum).max
    require(math.max(maxX, maxY) <= maxStripeRows,
      s"kendallDistributed: largest bucket stripe has ${math.max(maxX, maxY)} " +
        s"rows (> maxStripeRows=$maxStripeRows) — the value distribution " +
        "is too concentrated for B=" + buckets + " range buckets; raise " +
        "`buckets`, raise `maxStripeRows` if executors have the memory, " +
        "or use kendallApprox")
    // D(i,j) = Σ_{i'>i, j'<j} m(i',j'): y-prefix then x-suffix, O(B²)
    val pref = Array.ofDim[Long](nx, ny) // pref(i)(j) = Σ_{j'<j} m(i)(j')
    for (i <- 0 until nx; j <- 1 until ny)
      pref(i)(j) = pref(i)(j - 1) + m(i)(j - 1)
    var sGrid = 0L
    val dSuf = new Array[Long](ny) // running Σ_{i'>i} pref(i')(j)
    for (i <- nx - 1 to 0 by -1) {
      for (j <- 0 until ny) sGrid += m(i)(j) * dSuf(j)
      for (j <- 0 until ny) dSuf(j) += pref(i)(j)
    }

    // class-1: per-xb Knight + x/(x,y) ties (never cross buckets)
    val xbAgg = withB.groupByKey(_._3).mapGroups { (_, it) =>
      val rows = it.toArray.sortBy(t => (t._1, t._2))
      val inv = inversionCount(rows.map(_._2))
      (inv, tieRuns(rows.map(_._1)), tieRuns(rows.map(t => (t._1, t._2))))
    }.collect()
    // class-2: per-yb stripe inversions minus in-cell inversions + y ties
    val ybAgg = withB.groupByKey(_._4).mapGroups { (_, it) =>
      val rows = it.toArray.sortBy(t => (t._1, t._2))
      val total = inversionCount(rows.map(_._2))
      val inCell = rows.groupBy(_._3).valuesIterator
        .map(cell => inversionCount(cell.map(_._2))) // cells stay (x,y)-sorted
        .sum
      (total - inCell, tieRuns(rows.map(_._2).sorted.toIndexedSeq))
    }.collect()

    val n = m.map(_.sum).sum
    val n0 = n * (n - 1) / 2
    val n1 = xbAgg.map(_._2).sum
    val n3 = xbAgg.map(_._3).sum
    val n2 = ybAgg.map(_._2).sum
    val s = xbAgg.map(_._1).sum + ybAgg.map(_._1).sum + sGrid
    val denom = math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    val tau: java.lang.Double =
      if (denom == 0) null else (n0 - n1 - n2 + n3 - 2 * s) / denom
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(tau)),
      StructType(Seq(StructField("kendall", DoubleType))))
    } finally withB.unpersist(blocking = false)
  }

  /** Unbounded-exact kendall matrix: [[kendallDistributed]] per pair —
    * k(k-1)/2 independent two-shuffle jobs instead of
    * [[kendallMatrix]]'s single bounded collect. Per-pair PAIRWISE
    * completeness (each cell masks its own nulls, like
    * [[kendallMatrixPairwise]]); prefer the collect forms whenever the
    * frame fits their bound — one pass beats k² jobs. Long form
    * (c1, c2, kendall), upper triangle. */
  def kendallMatrixDistributed(df: DataFrame, cols: Seq[String],
                               buckets: Int = 64): DataFrame = {
    require(cols.size >= 2, "kendallMatrixDistributed: need >= 2 columns")
    (for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      kendallDistributed(df, cols(i), cols(j), buckets)
        .select(lit(cols(i)).as("c1"), lit(cols(j)).as("c2"),
          col("kendall"))
    }).reduce(_ unionAll _)
  }

  /** 100 TB mode of [[kendall]]: exact tau-b over a deterministic hash
    * sample of `maxRows` rows. The pairwise form is O(n²) in the row
    * count by construction (same as the reference's kernel); at scale
    * the standard move is to bound n. Sampling is by `xxhash64(x, y,
    * seed)` order — deterministic, reproducible, and independent of the
    * input partitioning, unlike `limit` (first-partitions bias) or
    * `sample` (rng per partition). Error is O(1/sqrt(maxRows)) for the
    * tau estimate; maxRows=10k ⇒ ~1% — and 10k² = 100M sign pairs, a
    * few seconds of distributed work regardless of input size. */
  def kendallApprox(df: DataFrame, a: String, b: String,
                    maxRows: Int = 10000, seed: Long = 42L): DataFrame = {
    // The hash mixes a per-row id: hashing only (x, y) would sample
    // duplicate value pairs all-or-nothing, biasing tau-b toward
    // whatever ties happened to hash low. The row id is deterministic
    // for a fixed input layout (stable re-runs), which is the
    // reproducibility this sketch promises.
    val sampled = df
      .filter(col(a).isNotNull && col(b).isNotNull)
      .withColumn("__h",
        xxhash64(col(a), col(b), monotonically_increasing_id(), lit(seed)))
      .orderBy("__h").limit(maxRows)
      .drop("__h")
    kendallUnguarded(sampled.select(col(a).as("x"), col(b).as("y")))
  }
}
