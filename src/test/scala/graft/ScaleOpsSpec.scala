package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.ScaleOps

class ScaleOpsSpec extends SparkTestBase {

  test("partitioned sink round-trips and prunes partitions at read") {
    val li = sf("sf0.001", "lineitem")
    val dir = Files.createTempDirectory("graft_part").toString
    ScaleOps.writePartitioned(li, dir, Seq("l_returnflag"))
    val back = ScaleOps.readPartitioned(spark, dir)
    assert(back.count() == li.count())
    val pruned = back.filter(col("l_returnflag") === "N")
    // partition pruning visible in the plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"))
    assert(pruned.count() == li.filter(col("l_returnflag") === "N").count())
  }

  test("bucketed table join avoids shuffle on the bucketed key") {
    val li = sf("sf0.001", "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    val od = sf("sf0.001", "orders").select("o_orderkey", "o_totalprice")
    // DROP TABLE leaves the managed location behind across JVM sessions —
    // clear both the catalog entry and the warehouse directory
    Seq("graft_li_b", "graft_od_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(loc)
      }
    }
    ScaleOps.writeBucketed(li, "graft_li_b", Seq("l_orderkey"), 4)
    ScaleOps.writeBucketed(od.withColumnRenamed("o_orderkey", "l_orderkey"),
      "graft_od_b", Seq("l_orderkey"), 4)
    val joined = spark.table("graft_li_b")
      .join(spark.table("graft_od_b"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    // sort-merge join without an Exchange on either side
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n${plan.take(800)}")
    assert(joined.count() == li.join(od, li("l_orderkey") === od("o_orderkey")).count())
  }

  test("compress aggregation over a bucketed table runs with no exchange") {
    // bucket col ⊆ the compress grouping keys (x, fe): HashPartitioning on
    // a subset satisfies the agg's ClusteredDistribution, so the flagship
    // fit's cell aggregation needs NO shuffle over a bucketed layout — the
    // 100 TB deployment shape (write once bucketed by FE, fit repeatedly)
    val li = sf("sf0.001", "lineitem")
      .select("l_quantity", "l_extendedprice", "l_returnflag")
    val t = "graft_li_fit_b"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(loc)
    }
    ScaleOps.writeBucketed(li, t, Seq("l_returnflag"), 8)
    val cells = graft.reg.Dbreg.compressedData(
      "l_extendedprice ~ l_quantity | l_returnflag", spark.table(t))
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle:\n${plan.take(800)}")
    // identical cells to the unbucketed path
    val a = cells.orderBy("l_quantity", "l_returnflag").collect().toSeq
    val b = graft.reg.Dbreg.compressedData(
      "l_extendedprice ~ l_quantity | l_returnflag", li)
      .orderBy("l_quantity", "l_returnflag").collect().toSeq
    assert(a == b)
  }

  test("normalizeParallelism is a no-op on a production multi-row-group layout") {
    // the shipped testdata is one row group per file, so every pipeline run
    // takes the repartition branch; this fixture takes the PRODUCTION branch
    // (scan already splits) and pins its behavior + results
    val docs = sf("sf0.01", "documents")
    val dir = Files.createTempDirectory("graft_multirg").toString
    docs.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (16 * 1024).toString)
      .parquet(dir)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // parquet only splits at row-group boundaries AND Spark only cuts
      // byte-range splits below maxPartitionBytes — set both small
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      val rg = spark.read.parquet(dir)
      val n = rg.rdd.getNumPartitions
      assert(n >= 4, s"fixture should scan as a split source, got $n partitions")
      val out = ScaleOps.normalizeParallelism(rg, 4)
      assert(out eq rg, "production path must not insert a shuffle")
      // pipelines built on the no-op path agree with the fan-out path
      val a = graft.pipeline.Dedup.minhashSignatures(rg, "doc_id", "text")
        .orderBy("id").collect()
      val b = graft.pipeline.Dedup.minhashSignatures(docs, "doc_id", "text")
        .orderBy("id").collect()
      assert(a.length == b.length && a.length == docs.count())
      a.zip(b).foreach { case (ra, rb) =>
        assert(ra.getLong(0) == rb.getLong(0))
        assert(ra.getSeq[Long](1) == rb.getSeq[Long](1), s"sig mismatch id=${ra.getLong(0)}")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
  }

  test("salted aggregation equals plain aggregation") {
    val li = sf("sf0.001", "lineitem")
    val plain = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = ScaleOps.saltedAggregate(li, Seq("l_returnflag"), 8,
      partials = Seq(count(lit(1)).as("n"), sum("l_quantity").as("s")),
      finals = Seq(sum("n").as("n"), sum("s").as("s")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(plain == salted)
  }

  test("salted join equals plain join") {
    val li = sf("sf0.001", "lineitem").select("l_orderkey", "l_quantity")
    val od = sf("sf0.001", "orders").select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(od, "l_orderkey").count()
    val salted = ScaleOps.saltedJoin(li, "l_orderkey", od, "l_orderkey",
      saltOf = xxhash64(li.columns.map(col): _*), buckets = 4).count()
    assert(plain == salted)
  }

  test("salted join bounds the hot key's partition, unsalted does not") {
    // planted skew: 90% of the big side shares one key. With broadcast and
    // AQE's skew split disabled (the regime saltedJoin exists for — e.g.
    // bucketed inputs), the unsalted shuffle join lands the hot key on ONE
    // reducer; salting spreads it over `buckets` reducers. Assert on the
    // physical partition sizes of the joined output, not just the values.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val n = 100000L
      val big = spark.range(n).select(
        when(col("id") % 10 < 9, lit("hot"))
          .otherwise(concat(lit("k"), (col("id") % 50).cast("string"))).as("key"),
        col("id").as("v"))
      val dims = (Seq("hot") ++ (0 until 50).map("k" + _)).map(k => (k, k.length))
      val small = spark.createDataFrame(dims).toDF("key", "dim")

      def partSizes(df: org.apache.spark.sql.DataFrame): Array[Int] =
        df.rdd.mapPartitions(it => Iterator(it.size)).collect()

      val unsalted = big.join(small, "key")
      val salted = ScaleOps.saltedJoin(big, "key", small, "key",
        saltOf = xxhash64(col("v")), buckets = 16)
      // same join result
      assert(unsalted.count() == salted.count())
      val su = unsalted.agg(sum("v")).collect()(0).getLong(0)
      val ss = salted.agg(sum("v")).collect()(0).getLong(0)
      assert(su == ss)
      // plan shape: the hot key dominates one unsalted partition (~90k rows);
      // salted must spread it across reducers
      val uMax = partSizes(unsalted).max
      val sMax = partSizes(salted).max
      assert(uMax >= (n * 0.9).toInt, s"expected hot key on one reducer, max=$uMax")
      assert(sMax <= uMax / 3, s"salting did not spread the hot key: $sMax vs $uMax")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.conf.set("spark.sql.shuffle.partitions", prevP)
    }
  }

  test("hashSplit: total partition, rough proportions, layout-independent") {
    val df = spark.range(10000).toDF("id")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val split = ScaleOps.hashSplit(df, "id", w, salt = "s")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000L) // every row exactly one label
    assert(math.abs(counts("train") - 8000L) < 400, counts.toString)
    assert(math.abs(counts("val") - 1000L) < 200, counts.toString)
    // deterministic under a different physical layout
    val again = ScaleOps.hashSplit(df.repartition(17), "id", w, salt = "s")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("hashSplit: null keys fall to the last label (documented contract)") {
    val df = spark.createDataFrame(
      Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
    ).toDF("id", "tag")
    val out = ScaleOps.hashSplit(df, "id", Seq("train" -> 0.5, "rest" -> 0.5))
      .collect().map(r => Option(r.get(0)).map(_.toString).orNull -> r.getString(2)).toMap
    assert(out(null) == "rest")
  }

  test("hashSplit: adding rows never reassigns existing ones; salt re-deals") {
    val w = Seq("a" -> 0.5, "b" -> 0.5)
    def labels(n: Long, salt: String) =
      ScaleOps.hashSplit(spark.range(n).toDF("id"), "id", w, salt)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val small = labels(100, "x")
    val grown = labels(1000, "x")
    assert(small.forall { case (id, l) => grown(id) == l })
    val redealt = labels(100, "y")
    assert(redealt != small) // overwhelmingly likely for 100 coin flips
  }

  test("weighted sample: rate tracks weight, samples nest as weight grows") {
    val docs = sf("sf0.001", "documents")
    val n = docs.count().toDouble
    def ids(w: Double) = ScaleOps
      .weightedSample(docs, "doc_id", lit(w), salt = "ws")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(0.0).isEmpty)
    assert(ids(1.0).size == n.toLong)
    val half = ids(0.5)
    assert(math.abs(half.size / n - 0.5) < 0.15, s"${half.size} of $n")
    // the SAME u decides every weight => lower-rate samples nest in higher
    val fifth = ids(0.2)
    assert(fifth.subsetOf(half) && half.subsetOf(ids(0.8)))
    // deterministic across evaluations
    assert(ids(0.5) == half)
  }

  test("sample mix hits exact per-domain takes and is deterministic") {
    val docs = sf("sf0.001", "documents")
    val shares = Seq("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25)
    val counts = docs.filter(col("lang").isin("en", "zh", "de"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nOut = math.floor(shares.map { case (d, s) => counts(d) / s }.min).toLong
    val out = ScaleOps.sampleToMix(docs, "lang", "doc_id", shares, salt = "mx")
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    shares.foreach { case (d, s) =>
      assert(got(d) == math.floor(s * nOut).toLong, s"$d: ${got(d)}")
    }
    // unlisted domains are dropped entirely
    assert(out.filter(!col("lang").isin("en", "zh", "de")).count() == 0)
    // same inputs, same rows
    val again = ScaleOps.sampleToMix(docs, "lang", "doc_id", shares, salt = "mx")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a missing domain fails loudly, not silently
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToMix(docs, "lang", "doc_id", Seq("nope" -> 1.0))
    }
  }

  test("token budget: two-phase cut equals the naive per-domain window, any bucket count") {
    val docs = sf("sf0.001", "documents")
    val budgets = Seq("en" -> 4000L, "de" -> 1500L, "zh" -> 900L)
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    // naive definition: exclusive running token sum in (hash, key) order
    // within the domain, keep while under budget
    val u = graft.pipeline.TextOps
      .hash32(concat(lit("tb"), col("doc_id").cast("string")))
      .cast("double") / lit(4294967296.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(u.asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val budgetCase = budgets.tail.foldLeft(
      when(col("lang") === budgets.head._1, lit(budgets.head._2))) {
      case (acc, (d, b)) => acc.when(col("lang") === d, lit(b))
    }
    val naive = docs
      .withColumn("__cum", coalesce(sum(tok.cast("long")).over(w), lit(0L)))
      .withColumn("__b", budgetCase)
      .filter(col("__b").isNotNull && col("__cum") < col("__b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (buckets <- Seq(2, 16, 1024)) {
      val got = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
          budgets, salt = "tb", buckets = buckets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == naive, s"buckets=$buckets: ${got.size} vs ${naive.size}")
    }
    // kept token mass: under budget + less than one doc of overshoot,
    // and at least one doc per domain
    val kept = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
      budgets, salt = "tb")
    val mass = kept.groupBy("lang").agg(
        sum(tok.cast("long")).as("t"), count(lit(1)).as("n"),
        max(tok.cast("long")).as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    budgets.foreach { case (d, b) =>
      val (t, n, mx) = mass(d)
      assert(n >= 1, s"$d empty")
      assert(t < b + mx, s"$d overshoot: $t vs budget $b (max doc $mx)")
    }
    // unlisted domains are dropped
    assert(kept.filter(!col("lang").isin("en", "de", "zh")).count() == 0)
  }

  test("zorder layout: scan equals full filter, prunes files, clusters both dims") {
    val li = sf("sf0.01", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "l_quantity")
    val dir = Files.createTempDirectory("graft_zorder").toString + "/li"
    ScaleOps.zorderWrite(li, dir, Seq("l_extendedprice", "l_quantity"),
      bits = 8, numFiles = 16)
    val bounds = Seq(("l_extendedprice", 10000.0, 20000.0),
      ("l_quantity", 10.0, 20.0))
    val pruned = ScaleOps.zorderScan(spark, dir, bounds)
    val full = spark.read.parquet(dir)
      .filter(col("l_extendedprice").between(10000.0, 20000.0) &&
        col("l_quantity").between(10.0, 20.0))
    // identical rows to the unpruned filter
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1))
    assert(pruned.collect().map(key).toSet == full.collect().map(key).toSet)
    assert(pruned.count() > 0, "fixture box should be non-empty")
    // the manifest must actually drop files for a small box
    val allFiles = spark.read.parquet(s"$dir/_zmanifest").count()
    val readFiles = pruned.select(input_file_name()).distinct().count()
    assert(allFiles >= 8, s"expected a multi-file layout, got $allFiles")
    assert(readFiles < allFiles,
      s"$readFiles of $allFiles files — no skipping happened")
    // clustering quality: the mean per-file span must be well under the
    // global span in BOTH dimensions (the point of z-order vs sort-by-one)
    val m = spark.read.parquet(s"$dir/_zmanifest")
      .agg(avg(col("max_l_extendedprice") - col("min_l_extendedprice")).as("sp"),
        avg(col("max_l_quantity") - col("min_l_quantity")).as("sq"))
      .collect()(0)
    val g = li.agg(
        (max("l_extendedprice") - min("l_extendedprice")).cast("double"),
        (max("l_quantity") - min("l_quantity")).cast("double"))
      .collect()(0)
    assert(m.getDouble(0) < g.getDouble(0) * 0.5,
      s"price span ${m.getDouble(0)} vs global ${g.getDouble(0)}")
    assert(m.getDouble(1) < g.getDouble(1) * 0.5,
      s"quantity span ${m.getDouble(1)} vs global ${g.getDouble(1)}")
    // a box outside the data reads nothing and stays schema-correct
    val empty = ScaleOps.zorderScan(spark, dir,
      Seq(("l_quantity", 1e9, 2e9)))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == li.columns.toSeq)
  }

  test("zorderKey: hand-computed interleave, null/degenerate buckets, bounds") {
    import spark.implicits._
    val d = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0),
      (0.5, 0.25)).toDF("x", "y")
    // bits=2, ranges [0,1]: buckets x,y in 0..3; z interleaves
    // bit b of bucket j at position b*2+j
    val got = d.select(ScaleOps.zorderKey(Seq(col("x"), col("y")),
        Seq((0.0, 1.0), (0.0, 1.0)), bits = 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def z(bx: Long, by: Long) =
      (0 until 2).map(b => (((bx >> b) & 1L) << (2 * b)) |
        (((by >> b) & 1L) << (2 * b + 1))).reduce(_ | _)
    // x=1.0 clamps into the top bucket (3); 0.5 -> bucket 2; 0.25 -> 1
    assert(got == Seq(z(0, 0), z(3, 0), z(0, 3), z(3, 3), z(2, 1)), got)
    // degenerate range and nulls land in bucket 0, never crash
    val dn = Seq((Some(5.0), Option.empty[Double])).toDF("x", "y")
    assert(dn.select(ScaleOps.zorderKey(Seq(col("x"), col("y")),
      Seq((5.0, 5.0), (0.0, 1.0)), bits = 4)).head.getLong(0) == 0L)
    intercept[IllegalArgumentException] {
      ScaleOps.zorderKey(Seq(col("x"), col("y")),
        Seq((0.0, 1.0), (0.0, 1.0)), bits = 32)
    }
  }

  test("top token budget: two-phase equals the naive priority window") {
    val docs = sf("sf0.001", "documents")
    val budgets = Seq("en" -> 4000L, "de" -> 1500L, "zh" -> 900L)
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val q = graft.pipeline.TextOps.qualityScore(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("__q").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val budgetCase = budgets.tail.foldLeft(
      when(col("lang") === budgets.head._1, lit(budgets.head._2))) {
      case (acc, (d, b)) => acc.when(col("lang") === d, lit(b))
    }
    val naive = docs.withColumn("__q", q)
      .withColumn("__cum", coalesce(sum(tok.cast("long")).over(w), lit(0L)))
      .withColumn("__b", budgetCase)
      .filter(col("__b").isNotNull && col("__cum") < col("__b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (buckets <- Seq(2, 64, 1024)) {
      val got = ScaleOps.takeTopTokenBudget(docs, "lang", "doc_id", tok, q,
          budgets, buckets = buckets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == naive, s"buckets=$buckets: ${got.size} vs ${naive.size}")
    }
    // it really keeps the TOP of the ranking: the kept set's minimum
    // quality must be >= the dropped set's maximum within each domain
    // (up to the one boundary doc that crossed the budget)
    val scored = docs.withColumn("__q", q)
      .select(col("doc_id"), col("lang"), col("__q"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    for (d <- Seq("en", "de", "zh")) {
      val keptQ = naive.toSeq.map(scored).filter(_._1 == d).map(_._2).sorted
      val dropQ = scored.values.filter(_._1 == d).map(_._2).toSeq
        .sorted.reverse.drop(keptQ.size)
      if (keptQ.nonEmpty && dropQ.nonEmpty)
        assert(keptQ.min >= dropQ.max - 1e-15, s"$d not top-ranked")
    }
  }

  test("top token budget: hand ordering, all-tied degenerate, null priority last") {
    import spark.implicits._
    val d = Seq(
      ("a", 1L, 10L, 0.9), ("a", 2L, 10L, 0.5), ("a", 3L, 10L, 0.7),
      ("a", 4L, 10L, 0.99)
    ).toDF("dom", "id", "nt", "q")
    // budget 25: docs in quality order 4(.99), 1(.9), 3(.7) — cum 0,10,20
    // all < 25; doc 2 (cum 30) is over
    val got = ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 25L)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(4L, 1L, 3L))
    // all-tied priority: one bin, degenerates to the exact window —
    // ties break by key asc, so ids 1..2 fit a 25-token budget
    val tied = Seq(("a", 1L, 10L, 0.5), ("a", 2L, 10L, 0.5),
      ("a", 3L, 10L, 0.5)).toDF("dom", "id", "nt", "q")
    assert(ScaleOps.takeTopTokenBudget(tied, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 25L)).count() == 3)
    assert(ScaleOps.takeTopTokenBudget(tied, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 20L)).count() == 2)
    // null priority sorts below everything: kept only while budget lasts
    val dn = Seq(("a", 1L, Some(0.9), 10L), ("a", 2L, Option.empty[Double], 10L),
      ("a", 3L, Some(0.5), 10L)).toDF("dom", "id", "q", "nt")
    val keptN = ScaleOps.takeTopTokenBudget(dn, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 25L)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(keptN == Set(1L, 3L, 2L) || keptN == Set(1L, 3L),
      s"got $keptN") // 0.9, 0.5 first; null doc only if budget remains
    assert(keptN == Set(1L, 3L, 2L), "25-token budget has room for the null doc")
  }

  test("token budget plan: the one window runs on the crossing-bucket sliver only") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val out = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
      Seq("en" -> 4000L, "de" -> 1500L), salt = "pp")
    val plan = out.queryExecution.executedPlan.toString
    // exactly ONE cumulative window in the whole plan...
    assert(plan.sliding(7).count(_ == "Window ") == 1, plan.take(3000))
    // ...fed by its own bucket-filtered scan: the keep-all branch and the
    // boundary sliver are two scans of the source, each with the FLOOR
    // bucket arithmetic pushed into the scan's data filters — nothing is
    // staged, nothing corpus-sized is sorted
    assert(plan.sliding(8).count(_ == "FileScan") == 2, plan.take(3000))
    assert(plan.contains("FLOOR"), plan.take(3000))
  }

  test("token budget: whole-domain budgets, single-doc budgets, null tokens free") {
    import spark.implicits._
    val d = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("b", 4L, 5L), ("b", 5L, 5L)
    ).toDF("dom", "id", "nt")
    // budget >= domain total: everything kept
    val all = ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"),
      Seq("a" -> 100L, "b" -> 100L), salt = "s1")
    assert(all.count() == 5)
    // budget of 1 token: exactly the first doc in hash order survives
    // (its exclusive cum is 0 < 1); everything after is over budget
    val one = ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"),
      Seq("a" -> 1L), salt = "s1")
    assert(one.count() == 1)
    assert(one.select("dom").head.getString(0) == "a")
    // null token counts consume no budget: a null-token row never
    // pushes a later row over
    val dn = Seq(("a", 1L, Option.empty[Long]), ("a", 2L, Some(3L)),
      ("a", 3L, Some(3L))).toDF("dom", "id", "nt")
    val got = ScaleOps.sampleToTokenBudget(dn, "dom", "id", col("nt"),
      Seq("a" -> 6L), salt = "s2")
    assert(got.count() == 3, "3+3 tokens fit a budget of 6 with a free null row")
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"), Seq("a" -> 0L))
    }
    // a budget for an absent domain refuses loudly (the sampleToMix
    // contract) — in all three variants
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"),
        Seq("a" -> 10L, "nope" -> 10L))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudgetApprox(d, "dom", "id", col("nt"),
        Seq("nope" -> 10L))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"), col("nt"),
        Seq("a" -> 10L, "nope" -> 10L))
    }
    // duplicate domains refuse too (CASE chain vs toMap would disagree)
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"),
        Seq("a" -> 10L, "a" -> 20L))
    }
  }

  test("approx token budget: expected token mass tracks the budget, no window in plan") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val budgets = Seq("en" -> 4000L, "de" -> 1500L)
    val approx = ScaleOps.sampleToTokenBudgetApprox(docs, "lang", "doc_id",
      tok, budgets, salt = "ta")
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Sort"), plan.take(2000))
    val mass = approx.groupBy("lang").agg(sum(tok.cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    budgets.foreach { case (d, b) =>
      assert(mass(d) > b / 2 && mass(d) < b * 2,
        s"$d token mass ${mass(d)} vs expected $b")
    }
    // a budget above the domain total clamps the rate at 1: all rows kept
    val clamped = ScaleOps.sampleToTokenBudgetApprox(docs, "lang", "doc_id",
      tok, Seq("de" -> 100000000L), salt = "ta")
    assert(clamped.count() == docs.filter(col("lang") === "de").count())
    // deterministic
    assert(approx.select("doc_id").collect().map(_.getLong(0)).toSet ==
      ScaleOps.sampleToTokenBudgetApprox(docs, "lang", "doc_id", tok,
        budgets, salt = "ta").select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("temperature mixture: hand-computed takes, alpha=1 is the natural distribution") {
    import spark.implicits._
    // a: 16 rows, b: 4. alpha=0.5 → weights (4, 2), shares (2/3, 1/3),
    // n_out = floor(min(16/(2/3), 4/(1/3))) = 12 → takes (8, 4)
    val d = ((1L to 16L).map(i => (i, "a")) ++ (17L to 20L).map(i => (i, "b")))
      .toDF("id", "dom")
    val got = ScaleOps.sampleToMixTemperature(d, "dom", "id", alpha = 0.5)
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 8L, "b" -> 4L))
    // tail domain's share rose above its natural 0.2
    assert(got("b").toDouble / (got("a") + got("b")) > 0.2)
    // alpha = 1: shares ∝ n → n_out = total, every row kept
    val nat = ScaleOps.sampleToMixTemperature(d, "dom", "id", alpha = 1.0)
    assert(nat.count() === 20L)
    // validation
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToMixTemperature(d, "dom", "id", alpha = 0.0)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToMixTemperature(d, "dom", "id", alpha = 1.5)
    }
  }

  test("temperature mixture drops NULL domains instead of crashing") {
    import spark.implicits._
    val d = ((1L to 16L).map(i => (i, Some("a"))) ++
      (17L to 20L).map(i => (i, Some("b"))) ++
      (21L to 25L).map(i => (i, None: Option[String])))
      .toDF("id", "dom")
    // same inventory as the hand-computed case above once NULLs drop
    val got = ScaleOps.sampleToMixTemperature(d, "dom", "id", alpha = 0.5)
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 8L, "b" -> 4L))
    val approx = ScaleOps.sampleToMixTemperatureApprox(d, "dom", "id", alpha = 0.5)
    assert(approx.filter(col("dom").isNull).count() === 0L)
  }

  test("approx temperature mixture tracks exact takes and plans no window") {
    val docs = sf("sf0.001", "documents")
    val exact = ScaleOps.sampleToMixTemperature(docs, "lang", "doc_id",
      alpha = 0.5, salt = "tx").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approxDf = ScaleOps.sampleToMixTemperatureApprox(docs, "lang", "doc_id",
      alpha = 0.5, salt = "tx")
    val approx = approxDf.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    // Bernoulli counts land within ±4√take of the exact per-domain takes
    exact.foreach { case (d, take) =>
      val tol = 4.0 * math.sqrt(take.toDouble.max(1.0))
      assert(math.abs(approx(d) - take) <= tol, s"$d: ${approx(d)} vs $take")
    }
    // the scale contract: a pure filter — no Window, no Sort in the plan
    val plan = approxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"approx plan must be window/sort-free:\n$plan")
    // deterministic
    val again = ScaleOps.sampleToMixTemperatureApprox(docs, "lang", "doc_id",
      alpha = 0.5, salt = "tx").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === approxDf.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("weighted sample drops NULL keys and NULL weights (documented semantics)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val d = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(java.lang.Long.valueOf(1L), java.lang.Double.valueOf(1.0)),
        Row(null, java.lang.Double.valueOf(1.0)),
        Row(java.lang.Long.valueOf(3L), null)),
      StructType(Seq(StructField("id", LongType, nullable = true),
        StructField("w", DoubleType, nullable = true))))
    val kept = ScaleOps.weightedSample(d, "id", col("w"), salt = "n")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L)) // w=1 always keeps; null key and null weight drop
  }

  test("approximate mix tracks the exact takes without a rank window") {
    val docs = sf("sf0.001", "documents")
    val shares = Seq("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25)
    val exact = ScaleOps.sampleToMix(docs, "lang", "doc_id", shares, salt = "ax")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = ScaleOps.sampleToMixApprox(docs, "lang", "doc_id", shares, salt = "ax")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (d, t) =>
      // Bernoulli noise: within 4·√take of the exact target
      val tol = 4 * math.sqrt(t.toDouble).ceil.toLong
      assert(math.abs(approx(d) - t) <= tol, s"$d: approx=${approx(d)} exact=$t")
    }
    // and the plan really has no window/sort: a pure filter over the scan
    val plan = ScaleOps.sampleToMixApprox(docs, "lang", "doc_id", shares)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"), plan.take(400))
  }

  test("profile: nulls, exact distincts, min/max/mean per column in one pass") {
    import spark.implicits._
    val d = Seq(
      (Some(1.0), 0.5), (Some(2.0), 0.5), (Some(2.0), 0.5), (None, 0.5))
      .toDF("a", "b")
    val rows = ScaleOps.profile(d, Seq("a", "b"), exactDistinct = true)
      .orderBy("col_name").collect()
    val a = rows(0); val b = rows(1)
    assert(a.getString(0) == "a" && a.getLong(1) == 4L && a.getLong(2) == 1L)
    assert(a.getLong(3) == 2L) // distinct excludes the null
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 2.0)
    assert(math.abs(a.getDouble(6) - 5.0 / 3.0) < 1e-12) // mean over non-null
    assert(b.getString(0) == "b" && b.getLong(2) == 0L && b.getLong(3) == 1L)
    assert(b.getDouble(4) == 0.5 && b.getDouble(5) == 0.5 && b.getDouble(6) == 0.5)
    // unknown column refuses
    val e = intercept[IllegalArgumentException] {
      ScaleOps.profile(d, Seq("nope"))
    }
    assert(e.getMessage.contains("not found"))
  }

  test("prioritySample: exactly k rows, deterministic, weight-responsive") {
    import spark.implicits._
    val d = (1L to 500L).map(i => (i, if (i == 7L) 1e9 else 1.0))
      .toDF("id", "w")
    val s1 = ScaleOps.prioritySample(d, "id", col("w"), k = 50, salt = "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1.size === 50)
    // the overwhelming weight is (deterministically) selected
    assert(s1.contains(7L))
    // layout invariance: same sample from a different partitioning
    val s2 = ScaleOps.prioritySample(d.repartition(13), "id", col("w"), 50, "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s2 === s1)
    // a different salt draws a different sample (same size)
    val s3 = ScaleOps.prioritySample(d, "id", col("w"), 50, "other")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s3.size === 50)
    assert(s3 != s1)
  }

  test("prioritySampleByGroup: exactly min(k, |stratum|) per stratum, deterministic") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, s"g${i % 3}", 1.0)).toDF("id", "g", "w")
    val out = ScaleOps.prioritySampleByGroup(d, "id", "g", col("w"), k = 10, salt = "s")
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.groupBy(_._1).view.mapValues(_.length).toMap ===
      Map("g0" -> 10, "g1" -> 10, "g2" -> 10))
    // layout invariance
    val again = ScaleOps
      .prioritySampleByGroup(d.repartition(7), "id", "g", col("w"), 10, "s")
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSet === out.toSet)
    // a stratum smaller than k returns whole stratum
    val small = (1L to 5L).map(i => (i, "only", 1.0)).toDF("id", "g", "w")
    assert(ScaleOps.prioritySampleByGroup(small, "id", "g", col("w"), 10).count() === 5L)
    // within-stratum agreement with the global sampler on a 1-stratum frame
    val one = (1L to 100L).map(i => (i, 1.0)).toDF("id", "w")
    val global = ScaleOps.prioritySample(one, "id", col("w"), 10, "s")
      .select("id").collect().map(_.getLong(0)).toSet
    val grouped = ScaleOps.prioritySampleByGroup(
        one.withColumn("g", lit("x")), "id", "g", col("w"), 10, "s")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(grouped === global)
  }

  test("saltedJoin: exactly the plain inner join under any bucket count") {
    import spark.implicits._
    val big = (1L to 400L).map(i => (i, i % 5)).toDF("rid", "k")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (7L, "z")).toDF("sk", "v")
    val plain = big.join(small, col("k") === col("sk"))
      .select("rid", "v").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    for (buckets <- Seq(2, 8)) {
      val salted = ScaleOps.saltedJoin(big, "k", small, "sk",
          saltOf = xxhash64(col("rid")), buckets = buckets)
        .select("rid", "v").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(salted.toSeq === plain.toSeq, s"mismatch at buckets=$buckets")
    }
    // small key 7 matches no big row: inner semantics drop it
    assert(plain.forall(_._2 != "z"))
  }

  test("prioritySample: null/zero weights excluded; k over n returns all eligible") {
    import spark.implicits._
    val d = Seq((1L, Some(2.0)), (2L, None), (3L, Some(0.0)), (4L, Some(1.0)))
      .toDF("id", "w")
    val out = ScaleOps.prioritySample(d, "id", col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 4L))
    intercept[IllegalArgumentException] {
      ScaleOps.prioritySample(d, "id", col("w"), k = 0)
    }
  }

  test("frozen token-budget state: self-application ≡ batch, shards decompose, fits keep all") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val budgets = Seq("en" -> 4000L, "de" -> 1500L, "zh" -> 900L)
    for (buckets <- Seq(2, 1024)) {
      val state = ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok,
        budgets, salt = "fz", buckets = buckets)
      val batch = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
          budgets, salt = "fz", buckets = buckets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // applying the corpus's own state back to the corpus is bit-exact
      val self = ScaleOps.sampleToTokenBudgetAgainst(state, docs,
          "lang", "doc_id", tok)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(self == batch, s"buckets=$buckets: ${self.size} vs ${batch.size}")
      // per-row purity: shard applications union to the whole
      val s0 = ScaleOps.sampleToTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 0), "lang", "doc_id", tok)
      val s1 = ScaleOps.sampleToTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 1), "lang", "doc_id", tok)
      val sharded = s0.unionByName(s1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sharded == batch, s"buckets=$buckets sharded mismatch")
    }
    // a domain whose whole inventory fits its budget gets a meta-only
    // state row (no sliver) and application keeps ALL its rows
    val bigBudget = Seq("de" -> 100000000L)
    val st = ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok,
      bigBudget, salt = "fz")
    assert(st.filter(col("u").isNull).count() == 1, "expected meta-only row")
    val kept = ScaleOps.sampleToTokenBudgetAgainst(st, docs, "lang",
      "doc_id", tok)
    assert(kept.count() == docs.filter(col("lang") === "de").count())
    // domains absent from the state are dropped (budget-CASE convention)
    assert(kept.filter(col("lang") =!= "de").count() == 0)
    // the application's one window runs on sliver-sized inputs only: the
    // plan's single window is fed by the bucket-filtered scan + state
    val applied = ScaleOps.sampleToTokenBudgetAgainst(
      ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok,
        Seq("en" -> 4000L), salt = "fz"),
      docs, "lang", "doc_id", tok)
    val plan = applied.queryExecution.executedPlan.toString
    assert(plan.sliding(7).count(_ == "Window ") == 1, plan.take(3000))
  }

  test("frozen token-budget state round-trips through parquet (persistable corpus state)") {
    // the deployment shape: build the state once per inventory refresh,
    // persist it, load it in the ingest job — the spanFingerprints pattern
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val budgets = Seq("en" -> 4000L, "de" -> 1500L)
    val state = ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok,
      budgets, salt = "rt")
    val dir = Files.createTempDirectory("graft_tbstate").toString + "/state"
    state.write.parquet(dir)
    val loaded = spark.read.parquet(dir)
    val viaLoaded = ScaleOps.sampleToTokenBudgetAgainst(loaded, docs,
        "lang", "doc_id", tok)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
        budgets, salt = "rt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaLoaded == batch && batch.nonEmpty)
    // a frame missing the state columns refuses loudly
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudgetAgainst(docs, docs, "lang", "doc_id", tok)
    }
  }

  test("frozen priority-budget state: self-application ≡ batch, shards decompose") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val q = graft.pipeline.TextOps.qualityScore(col("text"))
    val budgets = Seq("en" -> 4000L, "de" -> 1500L, "zh" -> 900L)
    for (buckets <- Seq(2, 1024)) {
      val state = ScaleOps.topTokenBudgetState(docs, "lang", "doc_id", tok,
        q, budgets, buckets = buckets)
      val batch = ScaleOps.takeTopTokenBudget(docs, "lang", "doc_id", tok,
          q, budgets, buckets = buckets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val self = ScaleOps.takeTopTokenBudgetAgainst(state, docs,
          "lang", "doc_id", tok, q)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(self == batch, s"buckets=$buckets: ${self.size} vs ${batch.size}")
      val s0 = ScaleOps.takeTopTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 0), "lang", "doc_id", tok, q)
      val s1 = ScaleOps.takeTopTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 1), "lang", "doc_id", tok, q)
      val sharded = s0.unionByName(s1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sharded == batch, s"buckets=$buckets sharded mismatch")
    }
    // a domain whose whole inventory fits gets a meta-only row and
    // application keeps all its rows; absent domains drop
    val st = ScaleOps.topTokenBudgetState(docs, "lang", "doc_id", tok, q,
      Seq("de" -> 100000000L))
    assert(st.filter(col("key").isNull && col("p").isNull).count() == 1)
    val kept = ScaleOps.takeTopTokenBudgetAgainst(st, docs, "lang",
      "doc_id", tok, q)
    assert(kept.count() == docs.filter(col("lang") === "de").count())
    assert(kept.filter(col("lang") =!= "de").count() == 0)
  }

  test("frozen priority-budget state: null priorities route exactly (null-bin crossing and drop)") {
    import spark.implicits._
    // budget exhausts INSIDE the nulls: cross_bin = 0, the null rows are
    // the sliver, non-null rows keep outright
    val d = Seq(
      ("a", 1L, 10L, Some(0.9)), ("a", 2L, 10L, Some(0.5)),
      ("a", 3L, 10L, None), ("a", 4L, 10L, None), ("a", 5L, 10L, None)
    ).toDF("dom", "id", "nt", "q")
    for (budget <- Seq(35L, 15L)) {
      val batch = ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"),
          col("q"), Seq("a" -> budget))
        .select("id").collect().map(_.getLong(0)).toSet
      val state = ScaleOps.topTokenBudgetState(d, "dom", "id", col("nt"),
        col("q"), Seq("a" -> budget))
      val self = ScaleOps.takeTopTokenBudgetAgainst(state, d, "dom", "id",
          col("nt"), col("q"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(self == batch, s"budget=$budget: $self vs $batch")
    }
    // budget 35 (exclusive cums 0,10,20,30,40): ids 1,2 then nulls in key
    // order 3,4 keep (30 < 35), 5 drops — the crossing sits in the null
    // bin; budget 15 crosses inside the non-nulls (ids 1,2 keep)
    val b35 = ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 35L)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(b35 == Set(1L, 2L, 3L, 4L), s"got $b35")
    // and a fresh null-priority row against a cb >= 1 state drops
    val state15 = ScaleOps.topTokenBudgetState(d, "dom", "id", col("nt"),
      col("q"), Seq("a" -> 15L))
    val freshNull = Seq(("a", 99L, 10L, Option.empty[Double]))
      .toDF("dom", "id", "nt", "q")
    assert(ScaleOps.takeTopTokenBudgetAgainst(state15, freshNull, "dom",
      "id", col("nt"), col("q")).count() == 0)
  }

  test("priority state: probe-scaled tie-break thins a saturated tied class") {
    // qualityScore saturates (capped terms) — a large share of any corpus
    // scores exactly 0.7, and a budget crossing inside that class makes
    // the sliver the whole class; the documented remedy (epsilon above
    // the probe's span·relErr cell width) must thin the state back toward
    // n/buckets
    import spark.implicits._
    // synthetic saturation (the ×100 corpus shape at spec scale): 60% of
    // rows score exactly 0.7, the rest spread below; the budget crosses
    // inside the tied class
    val d = (1L to 2000L).map(i =>
      ("a", i, 10L, if (i % 5 < 3) 0.7 else 0.1 + (i % 97) * 0.005))
      .toDF("dom", "id", "nt", "q")
    val budgets = Seq("a" -> 6000L) // 600 docs — inside the 1200-row class
    val plainN = ScaleOps.topTokenBudgetState(d, "dom", "id", col("nt"),
      col("q"), budgets).count()
    assert(plainN > 1000, s"fixture should produce a fat tied sliver: $plainN")
    val qTb = col("q") + graft.pipeline.TextOps
      .hash32(col("id").cast("string")).cast("double") /
      lit(4294967296.0) * lit(1e-5)
    val tbN = ScaleOps.topTokenBudgetState(d, "dom", "id", col("nt"),
      qTb, budgets, relErr = 1e-6).count()
    assert(tbN * 5 < plainN,
      s"tie-break did not thin the state: $tbN vs $plainN")
    // the under-scaled epsilon from the scaladoc warning really is inert:
    // below the probe's span·relErr cell width the class cannot split
    val inertN = ScaleOps.topTokenBudgetState(d, "dom", "id", col("nt"),
      col("q") + graft.pipeline.TextOps
        .hash32(col("id").cast("string")).cast("double") /
        lit(4294967296.0) * lit(1e-9),
      budgets).count()
    assert(inertN == plainN, s"$inertN vs $plainN")
    // the tie-broken cut still returns a valid budget cut (mass bound,
    // exactly 600 of the 10-token docs)
    val kept = ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"),
      qTb, budgets, relErr = 1e-6)
    assert(kept.count() == 600)
  }

  test("top token budget: materialized priority ≡ in-scan priority") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val q = graft.pipeline.TextOps.qualityScore(col("text"))
    val budgets = Seq("en" -> 4000L, "de" -> 1500L, "zh" -> 900L)
    val inScan = ScaleOps.takeTopTokenBudget(docs, "lang", "doc_id", tok, q,
      budgets).select("doc_id").collect().map(_.getLong(0)).toSet
    val mat = ScaleOps.takeTopTokenBudget(docs, "lang", "doc_id", tok, q,
        budgets, materializePriority = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mat == inScan, s"${mat.size} vs ${inScan.size}")
    // flag returns the caller's rows unchanged (full schema)
    val out = ScaleOps.takeTopTokenBudget(docs, "lang", "doc_id", tok, q,
      budgets, materializePriority = true)
    assert(out.columns.toSeq == docs.columns.toSeq)
  }

  test("domain samplers refuse non-string domain columns loudly") {
    import spark.implicits._
    val d = Seq((1, 1L, 10L), (2, 2L, 10L)).toDF("dom", "id", "nt")
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudget(d, "dom", "id", col("nt"), Seq("1" -> 5L))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudgetApprox(d, "dom", "id", col("nt"),
        Seq("1" -> 5L))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.takeTopTokenBudget(d, "dom", "id", col("nt"), col("nt"),
        Seq("1" -> 5L))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToMix(d, "dom", "id", Seq("1" -> 1.0))
    }
  }

  test("zorder manifest is relative: a relocated layout scans identically") {
    val li = sf("sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    val root = Files.createTempDirectory("graft_zmove")
    val dir = s"$root/orig"
    ScaleOps.zorderWrite(li, dir, Seq("l_extendedprice", "l_quantity"),
      bits = 6, numFiles = 8)
    // manifest stores basenames, not absolute URIs
    val names = spark.read.parquet(s"$dir/_zmanifest")
      .select("file").collect().map(_.getString(0))
    assert(names.forall(n => !n.contains("/") && !n.contains(":")),
      s"expected relative basenames, got ${names.take(3).mkString(", ")}")
    val bounds = Seq(("l_extendedprice", 10000.0, 30000.0),
      ("l_quantity", 5.0, 25.0))
    val before = ScaleOps.zorderScan(spark, dir, bounds)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    // relocate the whole layout (the object-storage copy) and re-scan
    val moved = s"$root/moved"
    assert(new java.io.File(dir).renameTo(new java.io.File(moved)))
    val after = ScaleOps.zorderScan(spark, moved, bounds)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before && after.nonEmpty)
  }

  test("zorder scan composes into the exact token-budget cut: pruned ≡ full") {
    // the layout's value in a PIPELINE: a box-selective budget cut reads
    // only the overlapping files, and the kept set is bit-identical to
    // running the same cut over a full scan + filter
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val slim = docs.select(col("doc_id"), col("lang"), col("n_chars"),
      tok.cast("long").as("nt"))
    val dir = Files.createTempDirectory("graft_zbudget").toString + "/docs"
    ScaleOps.zorderWrite(slim, dir, Seq("n_chars", "nt"),
      bits = 8, numFiles = 16)
    val bounds = Seq(("n_chars", 200.0, 600.0), ("nt", 30.0, 90.0))
    val budgets = Seq("en" -> 1500L, "de" -> 700L)
    val pruned = ScaleOps.zorderScan(spark, dir, bounds)
    val cutPruned = ScaleOps.sampleToTokenBudget(pruned, "lang", "doc_id",
        col("nt"), budgets, salt = "zb")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = spark.read.parquet(dir)
      .filter(col("n_chars").between(200.0, 600.0) && col("nt").between(30.0, 90.0))
    val cutFull = ScaleOps.sampleToTokenBudget(full, "lang", "doc_id",
        col("nt"), budgets, salt = "zb")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cutPruned == cutFull && cutPruned.nonEmpty)
    // and the pipeline really read fewer files than the layout holds
    val allFiles = spark.read.parquet(s"$dir/_zmanifest").count()
    val readFiles = pruned.select(input_file_name()).distinct().count()
    assert(readFiles < allFiles, s"$readFiles of $allFiles — no skipping")
  }

  test("repeatToTokenBudget: full epochs exact, partial is the nested prefix cut") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val inv = docs.groupBy("lang").agg(sum(tok.cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en gets 2 full epochs + a remainder; de exactly 1 epoch (no
    // partial); zh a pure downsample (0 full epochs)
    val enB = 2 * inv("en") + inv("en") / 3
    val deB = inv("de")
    val zhB = inv("zh") / 2
    val budgets = Seq("en" -> enB, "de" -> deB, "zh" -> zhB)
    val out = ScaleOps.repeatToTokenBudget(docs, "lang", "doc_id", tok,
      budgets, salt = "rb")
    val byEpoch = out.groupBy("lang", "epoch")
      .agg(sum(tok.cast("long")).as("t"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val nEn = docs.filter(col("lang") === "en").count()
    // epochs 0 and 1 of en are the complete inventory, bit-for-bit
    assert(byEpoch(("en", 0)) == ((inv("en"), nEn)))
    assert(byEpoch(("en", 1)) == ((inv("en"), nEn)))
    // the partial epoch is exactly the plain cut at the remainder budget
    val rem = enB - 2 * inv("en")
    val partGot = out.filter(col("lang") === "en" && col("epoch") === 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val partWant = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
        Seq("en" -> rem), salt = "rb")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(partGot == partWant && partGot.nonEmpty)
    // de: exactly one full epoch, nothing at epoch 1 (exact multiple)
    assert(byEpoch(("de", 0))._1 == inv("de"))
    assert(!byEpoch.contains(("de", 1)))
    // zh: pure downsample ≡ plain cut, epoch 0
    val zhGot = out.filter(col("lang") === "zh")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val zhWant = ScaleOps.sampleToTokenBudget(docs, "lang", "doc_id", tok,
        Seq("zh" -> zhB), salt = "rb")
      .select("doc_id").collect().map(r => (r.getLong(0), 0)).toSet
    assert(zhGot == zhWant)
    // unlisted domains never appear
    assert(out.filter(!col("lang").isin("en", "de", "zh")).count() == 0)
  }

  test("frozen repeat-budget state: self ≡ batch, shards decompose, exact-multiple sentinel") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val inv = docs.groupBy("lang").agg(sum(tok.cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en: 2 epochs + remainder; de: exact multiple (sentinel row, no
    // partial); zh: pure downsample
    val budgets = Seq("en" -> (2 * inv("en") + inv("en") / 3),
      "de" -> 2 * inv("de"), "zh" -> inv("zh") / 2)
    def keySet(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = keySet(ScaleOps.repeatToTokenBudget(docs, "lang", "doc_id",
      tok, budgets, salt = "rs"))
    for (buckets <- Seq(2, 1024)) {
      val state = ScaleOps.repeatBudgetState(docs, "lang", "doc_id", tok,
        budgets, salt = "rs", buckets = buckets)
      // self-application reproduces the batch cut bit-for-bit
      val self = keySet(ScaleOps.repeatToTokenBudgetAgainst(state, docs,
        "lang", "doc_id", tok))
      assert(self == batch, s"buckets=$buckets")
      // shards decompose: per-shard applications union to the whole
      val s0 = ScaleOps.repeatToTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 0), "lang", "doc_id", tok)
      val s1 = ScaleOps.repeatToTokenBudgetAgainst(state,
        docs.filter(col("doc_id") % 2 === 1), "lang", "doc_id", tok)
      assert((keySet(s0) ++ keySet(s1)) == batch, s"buckets=$buckets")
    }
    // the exact-multiple domain carries the -1 sentinel and emits both
    // full epochs with NO partial pass
    val state = ScaleOps.repeatBudgetState(docs, "lang", "doc_id", tok,
      budgets, salt = "rs")
    val deRows = state.filter(col("domain") === "de").collect()
    assert(deRows.length == 1 && deRows(0).getAs[Int]("cross_bkt") == -1)
    assert(deRows(0).getAs[Int]("epochs") == 2)
    val deOut = ScaleOps.repeatToTokenBudgetAgainst(state, docs,
        "lang", "doc_id", tok)
      .filter(col("lang") === "de")
    assert(deOut.agg(max("epoch")).collect()(0).getInt(0) == 1)
    assert(deOut.count() == 2 * docs.filter(col("lang") === "de").count())
    // state round-trips through parquet (persistable corpus state)
    val dir = Files.createTempDirectory("graft_rbstate").toString
    state.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    assert(keySet(ScaleOps.repeatToTokenBudgetAgainst(loaded, docs,
      "lang", "doc_id", tok)) == batch)
  }

  test("repeatToTokenBudget: refusals (zero inventory, epoch guard) and plan shape") {
    val docs = sf("sf0.001", "documents")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    // zero token inventory cannot be repeated to a budget
    val zeroTok = docs.withColumn("z",
      when(col("lang") === "en", lit(0L)).otherwise(tok.cast("long")))
    val e1 = intercept[IllegalArgumentException] {
      ScaleOps.repeatToTokenBudget(zeroTok, "lang", "doc_id", col("z"),
        Seq("en" -> 100L))
    }
    assert(e1.getMessage.contains("zero token inventory"))
    // a mistyped budget wanting 10^6 epochs refuses at the guard
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.repeatToTokenBudget(docs, "lang", "doc_id", tok,
        Seq("en" -> 1000000000000L))
    }
    assert(e2.getMessage.contains("maxEpochs"))
    // plan: the full-epoch branch adds no window/sort — the only window
    // is the partial cut's crossing sliver (≤ 1 in the whole plan)
    val out = ScaleOps.repeatToTokenBudget(docs, "lang", "doc_id", tok,
      Seq("en" -> 30000L, "zh" -> 2000L), salt = "rb2")
    val plan = out.queryExecution.executedPlan.toString
    val windows = "(?m)^\\s*[*+:-]*\\s*Window ".r.findAllIn(plan).size
    assert(windows <= 1, s"windows=$windows\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("zorder scan enforces write-once: appended or vanished files refuse loudly") {
    val li = sf("sf0.001", "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_quantity")
    val dir = Files.createTempDirectory("graft_zonce").toString + "/z"
    ScaleOps.zorderWrite(li, dir, Seq("l_extendedprice", "l_quantity"),
      bits = 6, numFiles = 4)
    val bounds = Seq(("l_extendedprice", 10000.0, 30000.0))
    assert(ScaleOps.zorderScan(spark, dir, bounds).count() > 0)
    // append a data file behind the manifest's back — before this round
    // it was SILENTLY UNREAD; now the scan refuses with the file name
    li.limit(5).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/__tmp_extra")
    val extra = new java.io.File(s"$dir/__tmp_extra").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val planted = new java.io.File(dir, "part-appended.parquet")
    java.nio.file.Files.copy(extra.toPath, planted.toPath)
    val e = intercept[IllegalArgumentException] {
      ScaleOps.zorderScan(spark, dir, bounds)
    }
    assert(e.getMessage.contains("write-once") &&
      e.getMessage.contains("part-appended.parquet"))
    // removing it restores the layout
    assert(planted.delete())
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/__tmp_extra"))
    assert(ScaleOps.zorderScan(spark, dir, bounds).count() > 0)
    // a manifest entry whose data file vanished also refuses
    val victim = new java.io.File(dir).listFiles()
      .find(f => f.isFile && f.getName.endsWith(".parquet")).get
    assert(victim.delete())
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.zorderScan(spark, dir, bounds)
    }
    assert(e2.getMessage.contains("no data file"))
  }

  test("materializePriority refuses duplicate and null keys (enforced contract)") {
    val docs = sf("sf0.001", "documents").limit(200)
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val q = graft.pipeline.TextOps.qualityScore(col("text"))
    val budgets = Seq("en" -> 2000L, "de" -> 800L, "zh" -> 500L)
    // duplicate keys: the semi-join would keep every copy of a kept key
    val dup = docs.withColumn("doc_id", col("doc_id") % 50)
    val e = intercept[IllegalArgumentException] {
      ScaleOps.takeTopTokenBudget(dup, "lang", "doc_id", tok, q, budgets,
        materializePriority = true)
    }
    assert(e.getMessage.contains("unique keys"))
    // null keys: they can never match the semi-join back
    val withNull = docs.withColumn("doc_id",
      when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("doc_id")))
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.takeTopTokenBudget(withNull, "lang", "doc_id", tok, q,
        budgets, materializePriority = true)
    }
    assert(e2.getMessage.contains("non-null keys"))
    // the default in-scan path accepts the same frames unchanged
    assert(ScaleOps.takeTopTokenBudget(dup, "lang", "doc_id", tok, q,
      budgets).count() > 0)
  }

  test("prepared token-budget state: parity with per-call form, meta probed once") {
    val rows = (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "en" else "de", (i % 5 + 1).toInt))
    val corpus = spark.createDataFrame(rows).toDF("id", "dom", "nt")
    val budgets = Seq("en" -> 25L, "de" -> 40L)
    val state = ScaleOps.tokenBudgetState(corpus, "dom", "id", col("nt"),
      budgets, salt = "pp", buckets = 8).cache()
    state.count()
    val shard = corpus.filter(col("id") % 2 === 0)
    val prepared = ScaleOps.PreparedTokenBudgetState(state)
    val viaPrepared = ScaleOps.sampleToTokenBudgetAgainst(prepared, shard,
      "dom", "id", col("nt")).collect().map(_.getLong(0)).toSet
    val viaPlain = ScaleOps.sampleToTokenBudgetAgainst(state, shard,
      "dom", "id", col("nt")).collect().map(_.getLong(0)).toSet
    assert(viaPrepared == viaPlain && viaPrepared.nonEmpty)
    // the meta probe is cached on the wrapper: repeated applications run
    // no further probe jobs (count Spark jobs around a second apply —
    // the prepared form must launch exactly the apply's own jobs, one
    // fewer than the convenience form's probe + apply)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def countJobs(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs = 0
        f
        // listener events are async: wait for the bus to drain
        val deadline = System.nanoTime() + 10_000_000_000L
        var last = -1
        while (System.nanoTime() < deadline && jobs != last) {
          last = jobs; Thread.sleep(200)
        }
        jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    prepared.saltBuckets // force + cache the probe
    val jPrepared = countJobs {
      ScaleOps.sampleToTokenBudgetAgainst(prepared, shard, "dom", "id",
        col("nt")).collect()
    }
    val jPlain = countJobs {
      ScaleOps.sampleToTokenBudgetAgainst(state, shard, "dom", "id",
        col("nt")).collect()
    }
    assert(jPrepared == jPlain - 1,
      s"prepared ran $jPrepared jobs, per-call form $jPlain")
  }

  test("uniMaxBudgets: hand-computed waterfilling, caps, exclusions, refusals") {
    import spark.implicits._
    // inventories: a=100, b=1000, c=10000 tokens. total=6000, maxEpochs=2:
    //   a (smallest): min(200, 6000/3=2000) = 200, rem 5800
    //   b: min(2000, 5800/2=2900) = 2000, rem 3800
    //   c: min(20000, 3800/1) = 3800
    val rows =
      Seq(("a", 100L), ("b", 1000L), ("c", 10000L)).flatMap { case (d, t) =>
        Seq((d, t / 2), (d, t - t / 2)) // two docs per domain
      }
    val df = rows.toDF("dom", "nt")
    val got = ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 6000L, 2)
    assert(got.toMap == Map("a" -> 200L, "b" -> 2000L, "c" -> 3800L), got)
    // abundant total: everyone hits the epoch cap
    val capped = ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 1000000L, 2)
    assert(capped.toMap == Map("a" -> 200L, "b" -> 2000L, "c" -> 20000L))
    // tiny total: the even share can floor to 0 for the first domains —
    // they are excluded (budget-positivity contract of the cut operators)
    val tiny = ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 2L, 1)
    assert(tiny.forall(_._2 > 0) && tiny.map(_._2).sum <= 2L)
    // null domains and zero-inventory domains never enter the allocation
    val withJunk = df.unionByName(Seq((null: String, 50L), ("z", 0L))
      .toDF("dom", "nt"))
    assert(ScaleOps.uniMaxBudgets(withJunk, "dom", col("nt"), 6000L, 2)
      .toMap == got.toMap)
    // the allocation feeds the cut operators directly
    val mixed = ScaleOps.sampleToTokenBudget(
      df.withColumn("id", monotonically_increasing_id()),
      "dom", "id", col("nt"),
      ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 6000L, 1))
    assert(mixed.count() > 0)
    intercept[IllegalArgumentException] {
      ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 0L, 1)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.uniMaxBudgets(df, "dom", col("nt"), 100L, 0)
    }
  }

  test("uniMaxState: frozen-inventory twin matches the live allocation") {
    import spark.implicits._
    val rows =
      Seq(("a", 100L), ("b", 1000L), ("c", 10000L)).flatMap { case (d, t) =>
        Seq((d, t / 2), (d, t - t / 2))
      }
    val df = rows.toDF("dom", "nt")
    val state = ScaleOps.uniMaxState(df, "dom", col("nt"))
    // the state is the |domains|-sized inventory sliver
    assert(state.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 100L, "b" -> 1000L, "c" -> 10000L))
    // allocation from the state == allocation from the live frame, across
    // totals and epoch caps — including a parquet round-trip of the state
    val dir = Files.createTempDirectory("graft_umstate").toString
    state.write.mode("overwrite").parquet(s"$dir/um")
    val loaded = spark.read.parquet(s"$dir/um")
    for ((tot, me) <- Seq((6000L, 2), (1000000L, 2), (2L, 1), (777L, 3)))
      assert(ScaleOps.uniMaxBudgetsFromState(loaded, tot, me) ==
        ScaleOps.uniMaxBudgets(df, "dom", col("nt"), tot, me), s"$tot/$me")
    // the allocation frame carries provenance: budget/tok epochs, only
    // budgeted domains present
    val alloc = ScaleOps.uniMaxAllocation(loaded, 6000L, 2)
      .orderBy("domain").collect()
    assert(alloc.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 100L, 200L), ("b", 1000L, 2000L), ("c", 10000L, 3800L)))
    assert(math.abs(alloc(0).getDouble(3) - 2.0) < 1e-12)
    assert(math.abs(alloc(2).getDouble(3) - 0.38) < 1e-12)
    // a malformed state refuses by name
    val e = intercept[IllegalArgumentException] {
      ScaleOps.uniMaxBudgetsFromState(df, 100L, 1)
    }
    assert(e.getMessage.contains("domain"))
    // monotone refresh: merging two shard states == the union's state
    // (token sums are additive), so the daily-ingest caller never
    // re-scans the resident corpus
    val h1 = Seq(("a", 50L), ("b", 500L), ("c", 5000L)).toDF("dom", "nt")
    val h2 = Seq(("a", 50L), ("b", 500L), ("c", 5000L)).toDF("dom", "nt")
    val merged = ScaleOps.uniMaxStateMerge(
      ScaleOps.uniMaxState(h1, "dom", col("nt")),
      ScaleOps.uniMaxState(h2, "dom", col("nt")))
    assert(merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      state.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(ScaleOps.uniMaxBudgetsFromState(merged, 6000L, 2) ==
      ScaleOps.uniMaxBudgetsFromState(state, 6000L, 2))
    intercept[IllegalArgumentException] {
      ScaleOps.uniMaxStateMerge(state, df)
    }
  }

  test("leakageSafeSplit: near-dup clusters never straddle the boundary") {
    import spark.implicits._
    // three exact-duplicate pairs + singletons; pairs from the exact
    // Jaccard producer at 0.9
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // dup of 1
      (3L, "one two three four five six"),
      (4L, "one two three four five six"), // dup of 3
      (5L, "totally unrelated text body here"),
      (6L, "another unrelated document content"),
      (7L, "seven eight nine ten eleven"),
      (8L, "seven eight nine ten eleven") // dup of 7
    ).toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.jaccardPairs(d, "doc_id", "text",
      n = 2, threshold = 0.9)
    assert(pairs.count() == 3)
    for (salt <- Seq("", "a", "b", "c")) {
      val split = ScaleOps.leakageSafeSplit(d, "doc_id", pairs,
          Seq("train" -> 0.5, "eval" -> 0.5), salt = salt)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(split.size == 8)
      // every dup pair lands on the SAME side, whatever the salt deals
      assert(split(1L) == split(2L) && split(3L) == split(4L) &&
        split(7L) == split(8L), s"salt=$salt: $split")
      // cluster members split by the REPRESENTATIVE's hash; singletons
      // by their own id — both equal plain hashSplit on that key
      val expect = ScaleOps.hashSplit(
        d.withColumn("__k",
          when(col("doc_id") === 2L, 1L)
            .when(col("doc_id") === 4L, 3L)
            .when(col("doc_id") === 8L, 7L)
            .otherwise(col("doc_id"))),
        "__k", Seq("train" -> 0.5, "eval" -> 0.5), salt = salt)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(split == expect, s"salt=$salt")
    }
    // schema passes through: no helper columns survive
    assert(ScaleOps.leakageSafeSplit(d, "doc_id", pairs,
        Seq("train" -> 0.5, "eval" -> 0.5)).columns.toSeq ==
      Seq("doc_id", "text", "split"))
    // the scaladoc'd stability claim: ADDING a pair only ever moves the
    // higher cluster's members to the lower's split — everyone keyed on
    // an unchanged representative stays put
    val morePairs = pairs.unionByName(
      Seq((1L, 7L, 1.0)).toDF("id1", "id2", "jaccard"))
    val before = ScaleOps.leakageSafeSplit(d, "doc_id", pairs,
        Seq("train" -> 0.5, "eval" -> 0.5), salt = "stab")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = ScaleOps.leakageSafeSplit(d, "doc_id", morePairs,
        Seq("train" -> 0.5, "eval" -> 0.5), salt = "stab")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // cluster {7,8} merged into {1,2} (rep 1 < 7): 7 and 8 now follow 1
    assert(after(7L) == before(1L) && after(8L) == before(1L))
    // everyone whose representative didn't change keeps their split
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L).forall(i => after(i) == before(i)))
  }

  test("dupClusterState: merged == rebuilt, merges compose, split against " +
      "the frozen state == the wrapper") {
    import spark.implicits._
    import graft.pipeline.Dedup
    def pdf(ps: (Long, Long)*) = ps.toSeq.toDF("id1", "id2")
    def cmap(st: Dedup.DupClusterState) = st.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pairsB both bridges two pairsA clusters ((2,7) joins {1,2} with
    // {7,8}) and opens a new one ({5,6})
    val pairsA = pdf(1L -> 2L, 3L -> 4L, 7L -> 8L)
    val pairsB = pdf(2L -> 7L, 5L -> 6L)
    val merged = Dedup.dupClusterStateMerge(
      Dedup.dupClusterState(pairsA), pairsB)
    val rebuilt = Dedup.dupClusterState(pairsA.unionByName(pairsB))
    assert(cmap(merged) == cmap(rebuilt))
    assert(cmap(merged) == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 8L -> 1L,
      3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
    // sequential micro-merges == one rebuild over the union
    val pairsC = pdf(4L -> 9L)
    val seq2 = Dedup.dupClusterStateMerge(merged, pairsC)
    val rebuilt3 = Dedup.dupClusterState(
      pairsA.unionByName(pairsB).unionByName(pairsC))
    assert(cmap(seq2) == cmap(rebuilt3))
    // the against form == the wrapper under the same pairs, through a
    // parquet roundtrip (the persisted-lake-state shape)
    val d = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val stDir = Files.createTempDirectory("graft_dcs").toString
    merged.clusters.write.mode("overwrite").parquet(stDir)
    val loaded = Dedup.DupClusterState(spark.read.parquet(stDir))
    for (salt <- Seq("", "x", "y")) {
      val viaState = ScaleOps.leakageSafeSplitAgainst(loaded, d, "doc_id",
          Seq("train" -> 0.7, "eval" -> 0.3), salt = salt)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val viaPairs = ScaleOps.leakageSafeSplit(d, "doc_id",
          pairsA.unionByName(pairsB), Seq("train" -> 0.7, "eval" -> 0.3),
          salt = salt)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(viaState == viaPairs, s"salt=$salt")
      // never straddle, via the frozen state
      assert(viaState(2L) == viaState(1L) && viaState(7L) == viaState(1L)
        && viaState(8L) == viaState(1L) && viaState(4L) == viaState(3L)
        && viaState(6L) == viaState(5L), s"salt=$salt")
    }
    // merge stability: keys whose representative survived the merge
    // keep their split; the bridged cluster's members follow the lower rep
    val before = ScaleOps.leakageSafeSplitAgainst(
        Dedup.dupClusterState(pairsA), d, "doc_id",
        Seq("train" -> 0.5, "eval" -> 0.5), salt = "stab")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = ScaleOps.leakageSafeSplitAgainst(merged, d, "doc_id",
        Seq("train" -> 0.5, "eval" -> 0.5), salt = "stab")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(7L) == before(1L) && after(8L) == before(1L))
    // 5/6 gained a cluster keyed on rep 5 — 5 itself stays (it was its
    // own key), 6 follows it; every other unchanged-rep key stays put
    assert(Seq(1L, 2L, 3L, 4L, 5L, 9L, 10L, 11L, 12L)
      .forall(i => after(i) == before(i)))
    assert(after(6L) == after(5L))
    // malformed states refuse by name in both consumers
    val bad = Dedup.DupClusterState(Seq((1L, 1L)).toDF("id", "rep"))
    assert(intercept[IllegalArgumentException] {
      ScaleOps.leakageSafeSplitAgainst(bad, d, "doc_id",
        Seq("train" -> 1.0))
    }.getMessage.contains("cluster"))
    assert(intercept[IllegalArgumentException] {
      Dedup.dupClusterStateMerge(bad, pairsA)
    }.getMessage.contains("cluster"))
  }

  test("dupClusterStateMerge == rebuild on seeded random pair graphs") {
    import spark.implicits._
    import graft.pipeline.Dedup
    // property loop (the repo's seeded-scalacheck pattern): random edge
    // sets split at a random point into "old" and "new" pairs — merged
    // state must equal CC over the union, labels included, on shapes the
    // fixture can't cover (bridges, chains, late-arriving low ids that
    // re-label whole components)
    val rnd = new scala.util.Random(1515)
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      // brute reference CC: min reachable id per node
      val adj = edges.foldLeft(
        Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
        case (m, (a, b)) => m.updated(a, m(a) + b).updated(b, m(b) + a)
      }
      adj.keys.map { v =>
        var seen = Set(v); var frontier = Set(v)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj) -- seen
          seen ++= frontier
        }
        v -> seen.min
      }.toMap
    }
    val configs = Seq((14, 0.12), (24, 0.05), (10, 0.5))
    configs.foreach { case (n, p) =>
      val edges = for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < p
      } yield (a, b)
      if (edges.size >= 2) {
        val cut = 1 + rnd.nextInt(edges.size - 1)
        val (oldP, newP) = edges.splitAt(cut)
        val merged = Dedup.dupClusterStateMerge(
            Dedup.dupClusterState(oldP.toDF("id1", "id2")),
            newP.toDF("id1", "id2"))
          .clusters.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(merged == cc(edges), s"config ($n, $p), cut $cut")
      }
    }
  }

  /** Both solve branches of the merge: the driver union-find (default
    * bound) and duplicateClusters over the contracted edges (bound 0).
    * Returns each branch's (id → cluster) map and its query count. */
  private def mergeBothBranches(st: graft.pipeline.Dedup.DupClusterState,
      newPairs: org.apache.spark.sql.DataFrame): Seq[(String, Map[Any, Any], Int)] =
    Seq("driver" -> 1000000, "cc" -> 0).map { case (branch, bound) =>
      var out: graft.pipeline.Dedup.DupClusterState = null
      val qs = PlanStats.capturedQueries(spark) {
        out = graft.pipeline.Dedup.mergeClusters(st, newPairs, bound)
      }
      (branch, out.clusters.collect().map(r => r.get(0) -> r.get(1)).toMap, qs.size)
    }

  test("dupClusterStateMerge == rebuild through both solve branches: chains, " +
      "late low ids, three-way bridges, repeated merges, string ids") {
    import spark.implicits._
    import graft.pipeline.Dedup
    def cmap(st: Dedup.DupClusterState): Map[Any, Any] =
      st.clusters.collect().map(r => r.get(0) -> r.get(1)).toMap
    // one case: a state built from `old`, then the merges `batches` in
    // turn, each on both branches; every step must equal CC over the
    // union of everything folded in so far
    def check(name: String, old: Seq[(Long, Long)], batches: Seq[(Long, Long)]*): Unit = {
      var st = Dedup.dupClusterState(old.toDF("id1", "id2"))
      var seen = old
      batches.zipWithIndex.foreach { case (b, k) =>
        seen = seen ++ b
        val rebuilt = cmap(Dedup.dupClusterState(seen.toDF("id1", "id2")))
        val runs = mergeBothBranches(st, b.toDF("id1", "id2"))
        runs.foreach { case (branch, m, _) =>
          assert(m == rebuilt, s"$name, batch $k, $branch branch")
        }
        // the driver branch is the collect and the stage; bound 0 runs CC
        val q = runs.map(r => r._1 -> r._3).toMap
        assert(q("driver") <= 2, s"$name, batch $k: $q")
        if (b.nonEmpty) assert(q("cc") > q("driver"), s"$name, batch $k: $q")
        st = Dedup.dupClusterStateMerge(st, b.toDF("id1", "id2"))
      }
    }
    val rnd = new scala.util.Random(2718)
    // a 50-node chain dealt at random between the state and the new pairs
    val chain = (0L until 49L).map(i => (i, i + 1))
    val (inState, arriving) = chain.partition(_ => rnd.nextBoolean())
    check("50-node chain", inState, arriving)
    // a late low id relabels a whole component (and a fresh node joins it)
    check("late low id", Seq(10L -> 11L, 11L -> 12L, 12L -> 13L, 20L -> 21L),
      Seq(1L -> 12L, 14L -> 13L))
    // one new pair set bridges three old clusters, directly and through a
    // fresh node; a fourth cluster stays untouched
    check("three-way bridge", Seq(1L -> 2L, 5L -> 6L, 9L -> 10L, 30L -> 31L),
      Seq(2L -> 6L, 40L -> 10L, 40L -> 5L))
    // repeated merges, including pairs already folded in (no-op edges
    // inside one cluster) and an empty batch
    check("repeated merges", Seq(3L -> 4L),
      Seq(4L -> 8L, 7L -> 9L), Seq(3L -> 8L, 9L -> 2L), Seq.empty, Seq(8L -> 7L))
    // string ids: "Ａ" (U+FF21) sorts below the non-BMP "😀" (U+1F600) in
    // Spark's UTF-8 byte order but above it in UTF-16 (String.compareTo)
    // (the old clusters {😀, 😁} and {Ａ, Ｂ} meet through the new pair)
    val (fw, fwB, emoji, emoji2) = ("Ａ", "Ｂ", "😀", "😁")
    assert(emoji.compareTo(fw) < 0) // UTF-16 order disagrees with Spark's
    val oldS = Seq(emoji -> emoji2, fw -> fwB, "b" -> "c")
    val newS = Seq(emoji2 -> fwB, "c" -> "d")
    val st = Dedup.dupClusterState(oldS.toDF("id1", "id2"))
    val rebuilt = cmap(Dedup.dupClusterState((oldS ++ newS).toDF("id1", "id2")))
    assert(rebuilt == Map(fw -> fw, fwB -> fw, emoji -> fw, emoji2 -> fw,
      "b" -> "b", "c" -> "b", "d" -> "b"))
    mergeBothBranches(st, newS.toDF("id1", "id2")).foreach { case (branch, m, _) =>
      assert(m == rebuilt, s"string ids, $branch branch")
    }
  }

  test("dupClusterStateMerge: a NULL endpoint adds nothing, ANSI on and off") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val st = Dedup.dupClusterState(Seq(1L -> 2L, 5L -> 6L).toDF("id1", "id2"))
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(5L)), (None, Some(6L)), (Some(7L), None), (None, None),
      (Some(8L), Some(9L))).toDF("id1", "id2")
    val expected: Map[Any, Any] = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 8L, 9L -> 8L)
    for (ansi <- Seq(true, false)) {
      val key = "spark.sql.ansi.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, ansi.toString)
      try mergeBothBranches(st, withNulls).foreach { case (branch, m, _) =>
        assert(m == expected, s"ansi=$ansi, $branch branch")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("dupClusterStateMerge: a merged state can be written over its own source") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val dir = Files.createTempDirectory("graft_dcs_self").toString
    Dedup.dupClusterState(Seq(1L -> 2L, 3L -> 4L).toDF("id1", "id2"))
      .clusters.write.mode("overwrite").parquet(dir)
    for (bound <- Seq(1000000, 0)) {
      val loaded = Dedup.DupClusterState(spark.read.parquet(dir))
      Dedup.mergeClusters(loaded, Seq(4L -> 2L, 9L -> 3L).toDF("id1", "id2"), bound)
        .clusters.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(back == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 1L),
        s"bound $bound")
    }
  }

  test("zorderAppend: grows the layout, scan stays exact and still prunes") {
    val li = sf("sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    val base = li.filter(col("l_orderkey") % 3 =!= 0)
    val batch1 = li.filter(col("l_orderkey") % 3 === 0 &&
      col("l_orderkey") % 2 === 0)
    val batch2 = li.filter(col("l_orderkey") % 3 === 0 &&
      col("l_orderkey") % 2 =!= 0)
    val dir = Files.createTempDirectory("graft_zapp").toString + "/z"
    val zc = Seq("l_extendedprice", "l_quantity")
    ScaleOps.zorderWrite(base, dir, zc, bits = 6, numFiles = 8)
    ScaleOps.zorderAppend(batch1, dir, zc, bits = 6, numFiles = 2)
    ScaleOps.zorderAppend(batch2, dir, zc, bits = 6, numFiles = 2)
    val bounds = Seq(("l_extendedprice", 10000.0, 30000.0),
      ("l_quantity", 5.0, 25.0))
    val pruned = ScaleOps.zorderScan(spark, dir, bounds)
    val got = pruned.select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = li.filter(
        col("l_extendedprice").between(10000.0, 30000.0) &&
          col("l_quantity").between(5.0, 25.0))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want && got.nonEmpty)
    // the appended rows really flow through the pruned scan
    assert(got.exists(_._1 % 3 == 0))
    // and the manifest still skips files on a selective box
    val tight = ScaleOps.zorderScan(spark, dir,
      Seq(("l_extendedprice", 900.0, 1100.0), ("l_quantity", 1.0, 2.0)))
    val all = spark.read.parquet(s"$dir/_zmanifest").count()
    val read = tight.select(input_file_name()).distinct().count()
    assert(read < all, s"$read of $all files — no skipping after append")
    // empty append is a no-op
    ScaleOps.zorderAppend(li.filter(lit(false)), dir, zc)
    assert(ScaleOps.zorderScan(spark, dir, bounds)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == want)
    // mismatched cluster columns refuse (manifest schema check)
    val e = intercept[IllegalArgumentException] {
      ScaleOps.zorderAppend(batch1, dir, Seq("l_extendedprice", "l_linenumber"))
    }
    assert(e.getMessage.contains("different columns"))
    // appending onto a violated layout refuses instead of laundering it
    val victim = new java.io.File(dir).listFiles()
      .find(f => f.isFile && f.getName.endsWith(".parquet")).get
    assert(victim.delete())
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.zorderAppend(batch1, dir, zc)
    }
    assert(e2.getMessage.contains("write-once"))
  }

  test("uniMaxBudgets invariants hold on random inventories") {
    import spark.implicits._
    // waterfilling invariants, randomized (seed fixed): (1) every
    // allocation is positive and <= maxEpochs * inventory; (2) the total
    // never exceeds the budget; (3) the budget is EXHAUSTED whenever the
    // caps allow it (sum a = min(total, sum caps) up to integer-division
    // slack of at most one token per domain); (4) fairness — a domain
    // that did NOT hit its cap received at least as much as every
    // SMALLER-inventory domain (the even share only shrinks as domains
    // drop off the waterfilling walk)
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val n = 2 + rng.nextInt(5)
      val inv = (0 until n).map(i =>
        (s"d$i", 1L + rng.nextInt(10000).toLong))
      val rows = inv.flatMap { case (d, t) => Seq((d, t / 2), (d, t - t / 2)) }
      val df = rows.toDF("dom", "nt")
      val total = 1L + rng.nextInt(30000).toLong
      val maxE = 1 + rng.nextInt(3)
      val got = ScaleOps.uniMaxBudgets(df, "dom", col("nt"), total, maxE)
      val invMap = inv.toMap
      assert(got.forall { case (d, a) => a > 0 && a <= maxE * invMap(d) })
      val sumA = got.map(_._2).sum
      assert(sumA <= total)
      val capSum = inv.map { case (_, t) => maxE * t }.sum
      assert(sumA >= math.min(total, capSum) - n,
        s"left tokens on the table: $sumA of min($total, $capSum)")
      val gotMap = got.toMap
      val uncapped = got.filter { case (d, a) => a < maxE * invMap(d) }
      for ((d, a) <- uncapped; (d2, t2) <- inv if t2 < invMap(d))
        assert(gotMap.getOrElse(d2, 0L) <= a + 1,
          s"unfair: $d2 (inv $t2) got ${gotMap.getOrElse(d2, 0L)} > $d's $a")
    }
  }
}
