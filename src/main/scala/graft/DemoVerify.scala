package graft

import org.apache.spark.sql.SparkSession
import graft.reg.Dbreg

/** Scratch end-to-end drive for manual verification (not part of the API). */
object DemoVerify {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    println("=== 1. simple OLS, iid (oracle: duckdb regr_*) ===")
    println(Dbreg.fit("l_extendedprice ~ l_quantity", li, strategy = "moments"))

    println("\n=== 2. multi-x + FE, auto strategy, hc1 ===")
    println(Dbreg.fit("l_extendedprice ~ l_quantity + l_discount | l_returnflag + l_linestatus", li, vcov = "hc1"))

    println("\n=== 3. clustered SEs, compress ===")
    println(Dbreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li, vcov = "~l_linestatus", strategy = "compress"))

    println("\n=== 4. factor + interaction, demean ===")
    println(Dbreg.fit("l_extendedprice ~ l_quantity*l_returnflag | l_linestatus", li, strategy = "demean"))

    println("\n=== probe: collinear regressor (tax = const*disc fails, use dup col) ===")
    val withDup = li.withColumn("qty2", org.apache.spark.sql.functions.col("l_quantity") * 2)
    println(Dbreg.fit("l_extendedprice ~ l_quantity + qty2", withDup, strategy = "moments"))

    println("\n=== probe: missing column error ===")
    try { Dbreg.fit("l_extendedprice ~ nope", li) }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }

    println("\n=== probe: bad vcov spec ===")
    try { Dbreg.fit("l_extendedprice ~ l_quantity", li, vcov = "bootstrap") }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }

    println("\n=== probe: multi-way cluster refusal (reference parity) ===")
    try { Dbreg.fit("l_extendedprice ~ l_quantity", li, vcov = "~a + b") }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }

    println("\n=== 5. GLM: logistic P(returnflag=R | quantity), compressed IRLS ===")
    val liRet = li.withColumn("ret",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val glm = graft.reg.Glm.fit("ret ~ l_quantity", liRet, family = "binomial")
    println(glm)
    println("\n=== probe: GLM fixed-effect refusal ===")
    try { graft.reg.Glm.fit("ret ~ l_quantity | l_linestatus", liRet) }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }
    spark.stop()
  }
}

/** Binscatter drive: real parquet, both paths + probes. */
object DemoBinsreg {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    import graft.binsreg.Dbbinsreg

    println("=== canonical (0,0) quantile binscatter: tip-style query ===")
    val r0 = Dbbinsreg.fit("l_extendedprice ~ l_quantity", li, nbins = 10, degree = 0)
    r0.points.foreach(p => println(f"bin ${p.bin}%2d x=${p.x}%8.2f fit=${p.fit}%10.1f ± ${p.se}%8.1f [${p.lwr}%10.1f, ${p.upr}%10.1f]"))

    println("\n=== linear spline (1,1) with FE + hc1 ===")
    val r1 = Dbbinsreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li,
      nbins = 6, degree = 1, smoothness = 1, vcov = "hc1")
    r1.points.foreach(p => println(f"bin ${p.bin}%2d x=${p.x}%8.2f fit=${p.fit}%10.1f se=${p.se}%8.1f"))
    println(s"line points: ${r1.line.length}, knots: ${r1.knots.mkString(",")}")

    println("\n=== probe: equal-spaced bins + control ===")
    val r2 = Dbbinsreg.fit("l_extendedprice ~ l_quantity + l_discount", li,
      nbins = 5, binspos = "es", degree = 1)
    println(r2.points.map(p => f"${p.fit}%10.1f").mkString(" "))

    println("\n=== probe: bad smoothness > degree+1 ===")
    try { Dbbinsreg.fit("l_extendedprice ~ l_quantity", li, degree = 0, smoothness = 2) }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }

    println("\n=== probe: interaction as binning var refused ===")
    try { Dbbinsreg.fit("l_extendedprice ~ l_quantity:l_discount", li) }
    catch { case e: Exception => println(s"OK -> ${e.getMessage}") }
    spark.stop()
  }
}

/** CB bands + manual knots drive. */
object DemoCb {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    import graft.binsreg.Dbbinsreg
    println("=== binscatter with sup-t confidence bands ===")
    val r = Dbbinsreg.fit("l_extendedprice ~ l_quantity", li, nbins = 8, degree = 0, cb = true)
    r.points.foreach(p => println(f"bin ${p.bin} fit=${p.fit}%9.1f CI=[${p.lwr}%9.1f,${p.upr}%9.1f] CB=[${p.cbLwr}%9.1f,${p.cbUpr}%9.1f]"))
    println("=== manual knots ===")
    val m = Dbbinsreg.fit("l_extendedprice ~ l_quantity", li,
      manualKnots = Some(Array(10.0, 25.0, 40.0)), degree = 0)
    m.bins.foreach(b => println(f"bin ${b.bin}: [${b.left}%5.1f, ${b.right}%5.1f] n=${b.n}"))
    println("=== probe: cb requested on spline -> warned & skipped ===")
    val sc = Dbbinsreg.fit("l_extendedprice ~ l_quantity", li, nbins = 5, degree = 1, smoothness = 1, cb = true)
    println(s"spline cbLwr all NaN: ${sc.points.forall(_.cbLwr.isNaN)}")
    spark.stop()
  }
}
