package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.linalg.LinAlg

/** Result of a one-pass moment aggregation: everything needed to solve the
  * normal equations. `xtx`/`xty` include the intercept row when requested.
  */
private[graft] final case class MomentsResult(
    xtx: DenseMatrix[Double],
    xty: DenseVector[Double],
    nRows: Long,
    n: Double, // Σw (== nRows unweighted)
    sumY: Double,
    sumYSq: Double,
    extra: Map[String, Double]
)

/** The sufficient-statistics kernel every estimator shares (reference
  * dbreg.R:724-757): the upper triangle of [1, X, y]ᵀW[1, X, y] and the
  * HC1 / CR1 sandwich meats. This is the only code that names a triangle
  * column or reads one back.
  *
  *  - global aggregates ([[compute]], [[triangle]], the meats [[hc1Meat]]
  *    and [[cr1Meat]], one query each) carry every triangle as ONE packed
  *    [[graft.functions.MomentsAgg]] buffer at any p: Spark plans no
  *    whole-stage codegen above `spark.sql.codegen.maxFields` (100)
  *    fields, which a p(p+1)/2 + 2p + 3 `sum` spelling passes at p = 12;
  *  - keyed aggregates ([[rawAggs]] per key via [[aggregate]], within-FE
  *    via [[keyedWithin]], [[normalAggs]], [[keyedTriangle]]) stay one
  *    `sum` column per entry: an object aggregate falls back to sort above
  *    128 keys a task;
  *  - readers ([[readRaw]], [[readNormal]], [[readTriangle]],
  *    [[readKeyedTriangle]], [[double]]) turn one aggregate row into
  *    symmetric matrices and vectors; a sum over no rows (null) and a
  *    packed buffer over no rows both read as 0. They touch nothing but
  *    the row, so they are safe in an executor-side `flatMap`.
  *
  * [[compute]] casts all inputs to double before multiplying (mirrors the
  * reference's CAST AS FLOAT, dbreg.R:958-962).
  */
private[graft] object MomentsKernel {

  /** Column names of one raw-moments aggregate. */
  final case class Layout(
      n: String,
      sy: String,
      syy: String,
      sx: Int => String,
      sxy: Int => String,
      sxx: (Int, Int) => String)

  private def prefixed(p: String) = Layout(s"${p}n", s"${p}sy", s"${p}syy",
    i => s"${p}sx$i", i => s"${p}sxy$i", (i, j) => s"${p}sxx_${i}_$j")

  /** The engine's own names (`_n`, `_sy`, …, `_sxx_i_j`). */
  val Keyed: Layout = prefixed("_")
  private val Cells: Layout = prefixed("_c")
  /** The public names of `StreamingReg.momentAggs`. */
  val Streamed: Layout = Layout("n", "sum_y", "sum_y_sq",
    i => s"sum_x$i", i => s"sum_x${i}_y", (i, j) => s"sum_x${i}_x$j")

  /** The [[keyedWithin]] column counting each key's (key, fe) cells: the
    * FE levels the within transform absorbs. */
  val Levels = "_L"

  /** Raw sums of one aggregate row: n (Σw, or the row count), Σy, Σy²,
    * Σx, Σxy and the symmetric Σxxᵀ — additive across disjoint inputs. */
  final case class RawMoments(
      n: Double,
      sy: Double,
      syy: Double,
      sx: DenseVector[Double],
      sxy: DenseVector[Double],
      sxx: DenseMatrix[Double]) {
    def +(o: RawMoments): RawMoments = RawMoments(n + o.n, sy + o.sy,
      syy + o.syy, sx + o.sx, sxy + o.sxy, sxx + o.sxx)
    def -(o: RawMoments): RawMoments = RawMoments(n - o.n, sy - o.sy,
      syy - o.syy, sx - o.sx, sxy - o.sxy, sxx - o.sxx)

    /** [1, X]ᵀ[1, X] and [1, X]ᵀy: row/column 0 carries n and Σx. */
    def withIntercept: (DenseMatrix[Double], DenseVector[Double]) = {
      val p = sx.length
      val m = DenseMatrix.zeros[Double](p + 1, p + 1)
      m(0, 0) = n
      for (i <- 0 until p) { m(0, i + 1) = sx(i); m(i + 1, 0) = sx(i) }
      for (i <- 0 until p; j <- 0 until p) m(i + 1, j + 1) = sxx(i, j)
      (m, DenseVector.vertcat(DenseVector(sy), sxy))
    }
  }

  // ------------------------------------------------------------ aggregates

  private def upper(name: (Int, Int) => String, p: Int)(
      cell: (Int, Int) => Column): Seq[Column] =
    for (i <- 0 until p; j <- i until p) yield sum(cell(i, j)).as(name(i, j))

  private def tagged(tag: String): (Int, Int) => String =
    (i, j) => s"_${tag}_${i}_$j"

  /** n, Σy, Σy², then (Σxᵢ, Σxᵢy) per regressor, then Σxᵢxⱼ (i ≤ j). */
  def rawAggs(y: Column, xs: Seq[Column], names: Layout = Keyed): Seq[Column] =
    Seq(count(lit(1)).cast("double").as(names.n), sum(y).as(names.sy),
      sum(y * y).as(names.syy)) ++
      xs.indices.flatMap(i => Seq(sum(xs(i)).as(names.sx(i)), sum(xs(i) * y).as(names.sxy(i)))) ++
      upper(names.sxx, xs.length)((i, j) => xs(i) * xs(j))

  /** The weighted normal equations alone: Σxᵢy·w, then Σxᵢxⱼ·w. */
  def normalAggs(y: Column, xs: Seq[Column], w: Column): Seq[Column] =
    xs.indices.map(i => sum(xs(i) * y * w).as(Keyed.sxy(i))) ++
      upper(Keyed.sxx, xs.length)((i, j) => xs(i) * xs(j) * w)

  /** [[rawAggs]] over all of `df` (no keys) or per key. */
  def aggregate(
      df: DataFrame,
      keys: Seq[Column],
      y: Column,
      xs: Seq[Column],
      names: Layout = Keyed
  ): DataFrame = {
    val aggs = rawAggs(y, xs, names = names)
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-`key` moments of y and `xs` demeaned within each (key, fe) cell,
    * plus [[Levels]], without a demean join: the centering identity
    *   Σ (a − ā_c)(b − b̄_c) = Σ_cells (S_ab,c − S_a,c·S_b,c / n_c)
    * turns one keyed aggregate of raw cell moments into the within
    * moments (the compress strategy's trick, per key). Demeaned y and x
    * sum to zero per cell, so Σy and Σx are 0. */
  def keyedWithin(
      df: DataFrame,
      key: String,
      fe: String,
      y: Column,
      xs: Seq[Column]
  ): DataFrame = {
    val p = xs.length
    val c = Cells
    val cells = aggregate(df, Seq(col(key), col(fe)), y, xs, c)
    def centered(ab: String, a: String, b: String): Column =
      col(ab) - col(a) * col(b) / col(c.n)
    val aggs = Seq(
      sum(col(c.n)).as(Keyed.n),
      sum(lit(0.0)).as(Keyed.sy),
      sum(centered(c.syy, c.sy, c.sy)).as(Keyed.syy),
      count(lit(1)).as(Levels)) ++
      (0 until p).flatMap(i => Seq(
        sum(lit(0.0)).as(Keyed.sx(i)),
        sum(centered(c.sxy(i), c.sx(i), c.sy)).as(Keyed.sxy(i)))) ++
      upper(Keyed.sxx, p)((i, j) => centered(c.sxx(i, j), c.sx(i), c.sx(j)))
    cells.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }

  /** Σ scale·xᵢ·xⱼ (i ≤ j) as the packed column `_tag` of a global
    * aggregate, evaluated as (scale·xᵢ)·xⱼ; without a scale Σ xᵢ·xⱼ. Its
    * Σscale entry reads as [[packed]]'s `n`. */
  def triangle(tag: String, xs: Seq[Column], scale: Option[Column] = None): Column =
    graft.functions.MomentsAgg(scale.getOrElse(lit(1.0)), lit(0.0), xs).as(s"_$tag")

  /** [[triangle]] for a keyed aggregate: one `sum` column per entry. */
  def keyedTriangle(tag: String, xs: Seq[Column], scale: Option[Column] = None)
      : Seq[Column] =
    upper(tagged(tag), xs.length)((i, j) =>
      scale.map(_ * xs(i)).getOrElse(xs(i)) * xs(j))

  // --------------------------------------------------------------- readers

  /** A numeric column of `row` as a double; null (a sum over no rows) is 0. */
  def double(row: Row, name: String): Double = row.getAs[Any](name) match {
    case null => 0.0
    case v: Number => v.doubleValue
  }

  private def readUpper(row: Row, name: (Int, Int) => String, p: Int)
      : DenseMatrix[Double] =
    LinAlg.symmetricFromUpper(p,
      (for (i <- 0 until p; j <- i until p) yield double(row, name(i, j))).toArray)

  def readRaw(row: Row, p: Int, names: Layout = Keyed): RawMoments =
    RawMoments(double(row, names.n), double(row, names.sy), double(row, names.syy),
      DenseVector.tabulate(p)(i => double(row, names.sx(i))),
      DenseVector.tabulate(p)(i => double(row, names.sxy(i))),
      readUpper(row, names.sxx, p))

  /** XᵀWX and XᵀWy of a [[normalAggs]] (or [[rawAggs]]) row. */
  def readNormal(row: Row, p: Int): (DenseMatrix[Double], DenseVector[Double]) =
    (readUpper(row, Keyed.sxx, p),
      DenseVector.tabulate(p)(i => double(row, Keyed.sxy(i))))

  def readTriangle(row: Row, tag: String, p: Int): DenseMatrix[Double] =
    packed(row, s"_$tag", p).sxx

  def readKeyedTriangle(row: Row, tag: String, p: Int): DenseMatrix[Double] =
    readUpper(row, tagged(tag), p)

  /** The packed [[graft.functions.MomentsAgg]] column `name`: n, Σy, Σy²,
    * Σx, Σxy, then the Σxxᵀ upper triangle row-major. */
  private def packed(row: Row, name: String, p: Int): RawMoments = {
    val a = row.getAs[scala.collection.Seq[Double]](name).toArray
    RawMoments(a(0), a(1), a(2),
      DenseVector(a.slice(3, 3 + p)), DenseVector(a.slice(3 + p, 3 + 2 * p)),
      LinAlg.symmetricFromUpper(p, a.drop(3 + 2 * p)))
  }

  // ---------------------------------------------------------------- meats

  /** HC1 meat Σ scale·xxᵀ over `df` (scale = e² for OLS, rss_g for
    * compress cells): one aggregate, one row. The scale is a projected
    * (codegen'd) column, so the buffer's per-row `eval` reads it bound. */
  def hc1Meat(df: DataFrame, scale: Column, xs: Seq[Column]): DenseMatrix[Double] = {
    val row = df.withColumn("_scale", scale)
      .agg(triangle("m", xs, Some(col("_scale")))).collect()(0)
    readTriangle(row, "m", xs.length)
  }

  /** CR1 meat: per-cluster scores s_g = Σ_{i∈g} score·xᵢ (a keyed aggregate
    * with map-side combine), then the cluster count G and Σ_g s_g s_gᵀ
    * from ONE packed aggregate over the score table — one query, nothing
    * cached. */
  def cr1Meat(
      df: DataFrame,
      cluster: Column,
      score: Column,
      xs: Seq[Column]
  ): (Long, DenseMatrix[Double]) = {
    val sNames = xs.indices.map(i => s"_s$i")
    val sAggs = xs.indices.map(i => sum(score * xs(i)).as(sNames(i)))
    val scores = df.groupBy(cluster).agg(sAggs.head, sAggs.tail: _*)
    val m = packed(scores.agg(triangle("m", sNames.map(col))).collect()(0), "_m",
      xs.length)
    (m.n.toLong, m.sxx)
  }

  // ---------------------------------------------------------- global solve

  def compute(
      df: DataFrame,
      yName: String,
      xNames: Seq[String],
      intercept: Boolean,
      weightName: Option[String] = None,
      extraAggs: Seq[(String, Column)] = Nil
  ): MomentsResult = {
    val w = weightName.map(col).getOrElse(lit(1.0))
    val aggs = Seq(count(lit(1)).as("_nrows"),
      graft.functions.MomentsAgg(w, col(yName), xNames.map(col)).as("_m")) ++
      extraAggs.map { case (nm, c) => c.as(nm) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val raw = packed(row, "_m", xNames.length)
    val (xtx, xty) = if (intercept) raw.withIntercept else (raw.sxx, raw.sxy)
    val extras = extraAggs.map { case (nm, _) => nm -> double(row, nm) }.toMap
    MomentsResult(xtx, xty, row.getAs[Long]("_nrows"), raw.n, raw.sy, raw.syy, extras)
  }

  /** Runs the optional `maxGroups` guard of the grouped fits: one count
    * over the keyed moment table, staged (not persisted, so no cache entry
    * outlives the lazy result) so the solve reuses its blocks. */
  def capGroups(moments: DataFrame, maxGroups: Long): DataFrame = {
    require(maxGroups >= 1L, s"maxGroups must be >= 1, got $maxGroups")
    if (maxGroups == Long.MaxValue) moments
    else {
      val m = graft.Staging.stage(moments)
      val g = m.count()
      require(g <= maxGroups,
        s"$g groups exceeds maxGroups=$maxGroups; raise the guard or pre-filter")
      m
    }
  }
}
