package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binsreg.Dbbinsreg
import graft.reg.{Dbreg, DbregResult}

/** Shared pieces of the two fit journeys: seeded column generators over
  * `spark.range` and the output checks. */
object FitGen {
  /** Files each generated table is written as; fixed so the inputs do
    * not depend on the host's core count. */
  val Files = 8

  /** Uniform in [0, 1), a pure function of (seed, stream k, row id). */
  def u(seed: Long, k: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(k), id), lit(1L << 31)).cast("double") /
      lit((1L << 31).toDouble)

  /** Roughly normal noise with variance 4/3: a sum of four uniforms. */
  def noise(seed: Long, k: Int): Column =
    (u(seed, k) + u(seed, k + 1) + u(seed, k + 2) + u(seed, k + 3) - lit(2.0)) * 2.0

  /** Writes one file per `spark.range` slice, rows in id order. */
  def write(df: DataFrame, dir: File): DataFrame = {
    df.drop("id").write.mode("overwrite").parquet(dir.getPath)
    df.sparkSession.read.parquet(dir.getPath)
  }

  def coef(r: DbregResult, term: String): (Double, Double) =
    r.coeftable.find(_.term == term).map(c => (c.estimate, c.stdError))
      .getOrElse(throw new IllegalStateException(s"no coefficient $term"))

  /** Every standard error finite and positive; x1, x2 within `tol` of the
    * generator's truth. */
  def checkFit(r: DbregResult, tol: Double): Unit = {
    r.coeftable.foreach { c =>
      require(!c.stdError.isNaN && !c.stdError.isInfinite && c.stdError > 0,
        s"${r.strategy}: se(${c.term}) = ${c.stdError}")
    }
    Seq("x1" -> 0.5, "x2" -> -0.3).foreach { case (t, truth) =>
      val (b, _) = coef(r, t)
      require(math.abs(b - truth) <= tol,
        s"${r.strategy}: beta($t) = $b, truth $truth, tolerance $tol")
    }
  }

  /** Two fits of one formula agree on every shared coefficient. */
  def checkSame(a: DbregResult, b: DbregResult, rel: Double, se: Boolean): Unit =
    Seq("x1", "x2").foreach { t =>
      val (ba, sa) = coef(a, t)
      val (bb, sb) = coef(b, t)
      require(math.abs(ba - bb) <= rel * (1 + math.abs(ba)),
        s"${a.strategy} vs ${b.strategy}: beta($t) $ba vs $bb")
      if (se) require(math.abs(sa - sb) <= rel * sa,
        s"${a.strategy} vs ${b.strategy}: se($t) $sa vs $sb")
    }
}

/** The NYC-taxi shape of BASELINE.md: `y ~ x1 + x2 | month + vendor` over a
  * scan-sized table whose regressors are discretized, so compress collapses
  * it to 24 FE cells x the x grid (well under 1% of the rows). */
final class FitScan(spark: SparkSession, lake: File, seed: Long,
    rows: Long = 300000L) extends Workload {
  import FitGen._
  private val dir = new File(lake, "fit_scan.parquet")
  private var df: DataFrame = _
  private var lastCompress: DbregResult = _
  private var lastMoments: DbregResult = _
  private val F = "y ~ x1 + x2 | month + vendor"

  def minPasses = 2
  def rowsPerPass: Long = rows * 5
  def inputDirs = Seq(dir)
  def describe = Map("rows" -> rows, "formula" -> F, "fe_cells" -> 24,
    "x1_levels" -> 81, "x2_levels" -> 6, "files" -> Files)
  override def autoTwin = Some("reg.compress")

  def setup(): Unit = {
    val month = (floor(u(seed, 1) * 12) + 1).cast("int")
    val vendor = when(u(seed, 2) < 0.45, lit("CMT")).otherwise(lit("VTS"))
    val x1 = floor(u(seed, 3) * 81) / 4.0 // 0 .. 20 in quarters, like a fare
    val x2 = (floor(u(seed, 4) * 6) + 1).cast("int") // like a passenger count
    val gen = spark.range(0, rows, 1, Files)
      .select(col("id"), month.as("month"), vendor.as("vendor"), x1.as("x1"),
        x2.as("x2"))
      .withColumn("y", lit(1.0) + col("x1") * 0.5 - col("x2") * 0.3 +
        pmod(col("month"), lit(3)) * 0.4 +
        when(col("vendor") === "VTS", 0.7).otherwise(0.0) + noise(seed, 10))
    df = write(gen, dir)
  }

  private val Tol = 0.01

  def pass(p: Int): Seq[Op] = Seq(
    Op("compress_hc1", "reg.compress", () => {
      val r = Dbreg.fit(F, df, vcov = "hc1", strategy = "compress")
      () => { checkFit(r, Tol); lastCompress = r }
    }),
    Op("auto_hc1", "reg.auto", () => {
      val r = Dbreg.fit(F, df, vcov = "hc1", strategy = "auto")
      () => {
        require(r.strategy == "compress", s"auto chose ${r.strategy}")
        checkFit(r, Tol)
        if (lastCompress != null) checkSame(r, lastCompress, 1e-9, se = true)
      }
    }),
    Op("moments_cl_month", "reg.moments", () => {
      val r = Dbreg.fit("y ~ x1 + x2", df, vcov = "~month", strategy = "moments")
      () => { checkFit(r, Tol); lastMoments = r }
    }),
    Op("mundlak_hc1", "reg.mundlak", () => {
      val r = Dbreg.fit(F, df, vcov = "hc1", strategy = "mundlak")
      () => checkFit(r, Tol)
    }),
    Op("binsreg_canonical", "binsreg.fit", () => {
      val r = Dbbinsreg.fit("y ~ x1", df, nbins = 20)
      () => FitScan.checkBins(r, 20)
    }))


  /** Compress and moments agree on the formula they share. */
  override def finalChecks(): Seq[String] = {
    val c = Dbreg.fit("y ~ x1 + x2", df, vcov = "~month", strategy = "compress")
    scala.util.Try(checkSame(c, lastMoments, 1e-7, se = true)).failed.toOption
      .map(_.getMessage).toSeq
  }
}

object FitScan {
  /** A binscatter of y on x1 has `nbins` points with finite fits and
    * positive standard errors, and its ends rise at the true slope 0.5. */
  def checkBins(r: Dbbinsreg.BinsregResult, nbins: Int): Unit = {
    require(r.points.size == nbins, s"binsreg: ${r.points.size} points, want $nbins")
    r.points.foreach { pt =>
      require(!pt.fit.isNaN && !pt.fit.isInfinite && pt.se > 0 && !pt.se.isInfinite,
        s"binsreg: point $pt")
    }
    val (a, b) = (r.points.head, r.points.last)
    val slope = (b.fit - a.fit) / (b.x - a.x)
    require(math.abs(slope - 0.5) < 0.1, s"binsreg: end-to-end slope $slope")
  }
}

/** The reference `benchmark.R` shape: a balanced panel with a unit fixed
  * effect of rows/5 levels and a time effect of 5, so the group-mean and
  * cluster-score tables are far above the broadcast threshold. */
final class FitPanel(spark: SparkSession, lake: File, seed: Long,
    rows: Long = 500000L) extends Workload {
  import FitGen._
  private val T = 5
  private val dir = new File(lake, "fit_panel.parquet")
  private var df: DataFrame = _
  private var lastDemean: DbregResult = _
  private var lastCompress: DbregResult = _
  private val F2 = "y ~ x1 + x2 | unit + time"

  def minPasses = 1
  def rowsPerPass: Long = rows * 4
  def inputDirs = Seq(dir)
  def describe = Map("rows" -> rows, "units" -> rows / T, "periods" -> T,
    "formula" -> F2, "x_levels" -> 4, "files" -> Files)
  override def autoTwin = Some("reg.demean")

  def setup(): Unit = {
    val unit = col("id") / T
    val gen = spark.range(0, rows, 1, Files)
      .select(col("id"), floor(unit).cast("long").as("unit"),
        (pmod(col("id"), lit(T.toLong)) + 1).cast("int").as("time"),
        floor(u(seed, 1) * 4).as("x1"), floor(u(seed, 2) * 4).as("x2"),
        (u(seed, 3, floor(unit)) - 0.5) * 4.0 as "a")
      .withColumn("y", col("x1") * 0.5 - col("x2") * 0.3 + col("a") +
        col("time") * 0.2 + noise(seed, 10))
      .drop("a")
    df = write(gen, dir)
  }

  private val Tol = 0.02

  def pass(p: Int): Seq[Op] = Seq(
    Op("demean_2w", "reg.demean", () => {
      val r = Dbreg.fit(F2, df, strategy = "demean")
      () => { checkFit(r, Tol); lastDemean = r }
    }),
    Op("auto_2w", "reg.auto", () => {
      val r = Dbreg.fit(F2, df, strategy = "auto")
      () => {
        require(r.strategy == "demean", s"auto chose ${r.strategy}")
        checkFit(r, Tol)
        if (lastDemean != null) checkSame(r, lastDemean, 1e-9, se = true)
      }
    }),
    Op("mundlak_unit", "reg.mundlak", () => {
      val r = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "mundlak")
      () => checkFit(r, Tol)
    }),
    Op("compress_time_cl_unit", "reg.compress", () => {
      val r = Dbreg.fit("y ~ x1 + x2 | time", df, vcov = "~unit",
        strategy = "compress")
      () => { checkFit(r, Tol); lastCompress = r }
    }))

  /** Compress and demean agree on the formula they share. */
  override def finalChecks(): Seq[String] = {
    val d = Dbreg.fit("y ~ x1 + x2 | time", df, vcov = "~unit", strategy = "demean")
    scala.util.Try(checkSame(d, lastCompress, 1e-7, se = false)).failed.toOption
      .map(_.getMessage).toSeq
  }
}
