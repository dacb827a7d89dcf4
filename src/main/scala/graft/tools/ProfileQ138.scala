package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiler for the q138 drift investigation (round 14, VERDICT
  * item #2): times each stage of the itemCosine plan in isolation at
  * sf0.1 so the regression is attributed by measurement, not guess. */
object ProfileQ138 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("graft-profile-q138")
    import org.apache.spark.sql.expressions.Window

    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    def ui = graft.queries.Tables.spread(
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it")))

    // warm the scans
    time("warm scans")(ui.write.format("noop").mode("overwrite").save())

    val m0 = ui.select(col("u"), col("it")).distinct()
    val wcap = Window.partitionBy(col("u"))
    val m = m0.withColumn("un", count(lit(1)).over(wcap))
      .filter(col("un") <= 200).drop("un")
    time("m (distinct+cap)")(m.write.format("noop").mode("overwrite").save())

    val mc = m.persist()
    time("m persist")(mc.count())

    val pairs = mc.select(col("u"), col("it").as("ia"))
      .join(mc.select(col("u"), col("it").as("ib")), Seq("u"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
    time("pairs groupBy")(pairs.write.format("noop").mode("overwrite").save())

    val pc = pairs.persist()
    time("pairs persist")(pc.count())

    val norms = mc.groupBy(col("it")).agg(count(lit(1)).as("n"))
    val directed = pc.select(col("ia").as("item"), col("ib").as("neighbor"), col("c"))
      .unionByName(pc.select(col("ib").as("item"), col("ia").as("neighbor"), col("c")))
    val scored = directed
      .join(norms.select(col("it").as("item"), col("n").as("n_i")), Seq("item"))
      .join(norms.select(col("it").as("neighbor"), col("n").as("n_j")), Seq("neighbor"))
      .withColumn("cos_micro", expr(
        "CAST(round(1e6 * c / sqrt(CAST(n_i AS DOUBLE) * n_j)) AS BIGINT)"))
    time("scored (joins only)")(scored.write.format("noop").mode("overwrite").save())

    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos_micro").desc, col("neighbor").asc)
    val viaWindow = scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("item"), col("neighbor"), col("c"), col("cos_micro"), col("rn"))
    time("window top-5")(viaWindow.write.format("noop").mode("overwrite").save())
    time("window top-5 (rep2)")(viaWindow.write.format("noop").mode("overwrite").save())

    pc.unpersist(); mc.unpersist()

    // end-to-end, uncached: OLD formulation (distinct + cap window +
    // self-join + row_number window) vs NEW (collect_set baskets +
    // generated pairs), interleaved min-of-3 in one session
    def uiF = graft.queries.Tables.spread(
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it")))
    def oldImpl = {
      val m0 = uiF.select(col("u"), col("it")).distinct()
      val m = m0.withColumn("un", count(lit(1)).over(Window.partitionBy(col("u"))))
        .filter(col("un") <= 200).drop("un")
      val nrm = m.groupBy(col("it")).agg(count(lit(1)).as("n"))
      val prs = m.select(col("u"), col("it").as("ia"))
        .join(m.select(col("u"), col("it").as("ib")), Seq("u"))
        .filter(col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
      val dir = prs.select(col("ia").as("item"), col("ib").as("neighbor"), col("c"))
        .unionByName(prs.select(col("ib").as("item"), col("ia").as("neighbor"), col("c")))
      val sc = dir
        .join(nrm.select(col("it").as("item"), col("n").as("n_i")), Seq("item"))
        .join(nrm.select(col("it").as("neighbor"), col("n").as("n_j")), Seq("neighbor"))
        .withColumn("cos_micro", expr(
          "CAST(round(1e6 * c / sqrt(CAST(n_i AS DOUBLE) * n_j)) AS BIGINT)"))
      sc.withColumn("rn", row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("cos_micro").desc, col("neighbor").asc)).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("item"), col("neighbor"), col("c"), col("cos_micro"), col("rn"))
    }
    def newImpl = graft.operators.BasketAnalysis.itemCosine(uiF, "u", "it",
      topK = 5, maxUserItems = Some(200))
    // NEW2: norms attached at MEMBERSHIP grain (600 k rows) before pair
    // generation -- no join ever touches the 25 M directed table -- and
    // pair generation via two codegen'd Generates (posexplode + slice)
    // instead of interpreted HOF lambdas
    def new2Impl = {
      val baskets = uiF
        .filter(col("u").isNotNull && col("it").isNotNull)
        .groupBy(col("u")).agg(array_sort(collect_set(col("it"))).as("its"))
        .filter(size(col("its")) <= 200)
      val members = baskets.select(col("u"), explode(col("its")).as("it"))
      val norms = members.groupBy(col("it")).agg(count(lit(1)).as("n"))
      val mn = members.join(norms, Seq("it"))
      val nb = mn.groupBy(col("u"))
        .agg(array_sort(collect_list(struct(col("it"), col("n")))).as("its"))
      val pairs = nb.filter(size(col("its")) >= 2)
        .select(col("its"), posexplode(col("its")).as(Seq("i", "a")))
        .select(col("a"), explode(expr("slice(its, i + 2, size(its))")).as("b"))
        .groupBy(col("a.it").as("ia"), col("a.n").as("n_a"),
          col("b.it").as("ib"), col("b.n").as("n_b"))
        .agg(count(lit(1)).as("c"))
      val scored = pairs.select(explode(array(
          struct(col("ia").as("item"), col("ib").as("neighbor"),
            col("c"), col("n_a").as("n_i"), col("n_b").as("n_j")),
          struct(col("ib").as("item"), col("ia").as("neighbor"),
            col("c"), col("n_b").as("n_i"), col("n_a").as("n_j")))).as("d"))
        .select(col("d.item").as("item"), col("d.neighbor").as("neighbor"),
          col("d.c").as("c"), expr(
          "CAST(round(1e6 * d.c / sqrt(CAST(d.n_i AS DOUBLE) * d.n_j)) AS BIGINT)")
          .as("cos_micro"))
      scored.withColumn("rn", row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("cos_micro").desc, col("neighbor").asc)).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("item"), col("neighbor"), col("c"), col("cos_micro"), col("rn"))
    }
    locally {
      val baskets = uiF
        .filter(col("u").isNotNull && col("it").isNotNull)
        .groupBy(col("u")).agg(array_sort(collect_set(col("it"))).as("its"))
        .filter(size(col("its")) <= 200)
      val members = baskets.select(col("u"), explode(col("its")).as("it"))
      val norms = members.groupBy(col("it")).agg(count(lit(1)).as("n"))
      val mn = members.join(norms, Seq("it"))
      val nb = mn.groupBy(col("u"))
        .agg(array_sort(collect_list(struct(col("it"), col("n")))).as("its"))
      time("N2 baskets")(baskets.write.format("noop").mode("overwrite").save())
      time("N2 nb (norm-baskets)")(nb.write.format("noop").mode("overwrite").save())
      val gen = nb.filter(size(col("its")) >= 2)
        .select(col("its"), posexplode(col("its")).as(Seq("i", "a")))
        .select(col("a"), explode(expr("slice(its, i + 2, size(its))")).as("b"))
      time("N2 pair generate only")(gen.write.format("noop").mode("overwrite").save())
      val pairs = gen
        .groupBy(col("a.it").as("ia"), col("a.n").as("n_a"),
          col("b.it").as("ib"), col("b.n").as("n_b"))
        .agg(count(lit(1)).as("c"))
      time("N2 pairs agg")(pairs.write.format("noop").mode("overwrite").save())
      time("N2 pairs agg rep2")(pairs.write.format("noop").mode("overwrite").save())
    }
    // N3: narrow (ia, ib) pair key; norms joined on the 12.7M UNDIRECTED
    // pairs (AQE broadcasts at runtime); doubling after scoring.
    // N4: N3 without the Tables.spread pre-shuffle (the basket groupBy
    // re-partitions immediately anyway).
    def n34(spreadIn: Boolean) = {
      val in = if (spreadIn) uiF else
        o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("it"))
      val baskets = in
        .filter(col("u").isNotNull && col("it").isNotNull)
        .groupBy(col("u")).agg(array_sort(collect_set(col("it"))).as("its"))
        .filter(size(col("its")) <= 200)
      val norms = baskets.select(explode(col("its")).as("it"))
        .groupBy(col("it")).agg(count(lit(1)).as("n"))
      val pairs = baskets.filter(size(col("its")) >= 2)
        .select(col("its"), posexplode(col("its")).as(Seq("i", "ia")))
        .select(col("ia"), explode(expr("slice(its, i + 2, size(its))")).as("ib"))
        .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
      val und = pairs
        .join(norms.select(col("it").as("ia"), col("n").as("n_a")), Seq("ia"))
        .join(norms.select(col("it").as("ib"), col("n").as("n_b")), Seq("ib"))
      val scored = und.select(explode(array(
          struct(col("ia").as("item"), col("ib").as("neighbor"),
            col("c"), col("n_a").as("n_i"), col("n_b").as("n_j")),
          struct(col("ib").as("item"), col("ia").as("neighbor"),
            col("c"), col("n_b").as("n_i"), col("n_a").as("n_j")))).as("d"))
        .select(col("d.item").as("item"), col("d.neighbor").as("neighbor"),
          col("d.c").as("c"), expr(
          "CAST(round(1e6 * d.c / sqrt(CAST(d.n_i AS DOUBLE) * d.n_j)) AS BIGINT)")
          .as("cos_micro"))
      scored.withColumn("rn", row_number().over(Window.partitionBy(col("item"))
          .orderBy(col("cos_micro").desc, col("neighbor").asc)).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("item"), col("neighbor"), col("c"), col("cos_micro"), col("rn"))
    }
    for (rep <- 1 to 3) {
      time(s"N3 (spread) rep$rep")(
        n34(true).write.format("noop").mode("overwrite").save())
      time(s"N4 (no spread) rep$rep")(
        n34(false).write.format("noop").mode("overwrite").save())
    }
    val pa = newImpl.collect().map(_.toSeq).toSet
    val pb = n34(false).collect().map(_.toSeq).toSet
    println(s"[prof] parity new vs n4: ${pa == pb} (${pa.size} rows)")
    for (rep <- 1 to 3)
      time(s"NEW2 end-to-end rep$rep")(
        new2Impl.write.format("noop").mode("overwrite").save())
    // parity check vs the shipped impl
    val a = newImpl.collect().map(_.toSeq).toSet
    val b = new2Impl.collect().map(_.toSeq).toSet
    println(s"[prof] parity new vs new2: ${a == b} (${a.size} rows)")
    println("[prof] ==== NEW impl plan ====")
    newImpl.explain("formatted")
    for (rep <- 1 to 3) {
      time(s"OLD end-to-end rep$rep")(
        oldImpl.write.format("noop").mode("overwrite").save())
      time(s"NEW end-to-end rep$rep")(
        newImpl.write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
