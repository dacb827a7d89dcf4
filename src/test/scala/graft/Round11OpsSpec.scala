package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{FeatureEng, Similarity, Stats, TextAnalysis,
  TimeSeries}

/** Hand-computed cases for the round-11 operators (the DuckDB oracles
  * check them end-to-end on the testdata; these pin the arithmetic on
  * inputs small enough to verify by hand). */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Stats.spearman ---------------------------------------------------

  test("spearman: monotone +1, inverse -1, hand value with ties") {
    val up = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 90.0))
      .toDF("x", "y")
    assert(Stats.spearman(up, "x", "y").head().getDouble(1) === 1.0)
    val down = Seq((1.0, 9.0), (2.0, 7.0), (3.0, 5.0), (4.0, 2.0))
      .toDF("x", "y")
    assert(Stats.spearman(down, "x", "y").head().getDouble(1) === -1.0)
    // ties: x = (1,2,2,3), y = (1,2,3,4): rank_x = (1, 2.5, 2.5, 4),
    // rank_y = 1..4 → Pearson over ranks = 3/√(9.5·... ) hand:
    // a=(1,2.5,2.5,4) b=(1,2,3,4); n=4 Σa=10 Σb=10 Σab=(1+5+7.5+16)=29.5
    // Σa²=(1+6.25+6.25+16)=29.5 Σb²=30; ρ=(4·29.5−100)/√((118−100)(120−100))
    // = 18/√360 = 0.948683
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 4.0))
      .toDF("x", "y")
    assert(Stats.spearman(tied, "x", "y").head().getDouble(1) === 0.948683)
    val none = Stats.spearman(tied.filter(col("x") > 9.0), "x", "y").head()
    assert(none.getLong(0) === 0L && none.isNullAt(1))
  }

  test("spearman past the small-input bound (sharded y ranks) matches a driver reference") {
    val n = graft.operators.GlobalRank.SmallInput.toInt + 9000
    val xs = Array.tabulate(n)(i => (i % 50).toDouble)
    val ys = Array.tabulate(n)(i => ((i.toLong * 7919L + (i % 50) * 1000L) % 100003L).toDouble)
    def midranks(v: Array[Double]): Array[Double] = {
      val order = v.indices.sortBy(v(_)).toArray
      val r = new Array[Double](v.length)
      var i = 0
      while (i < order.length) {
        var j = i
        while (j + 1 < order.length && v(order(j + 1)) == v(order(i))) j += 1
        for (k <- i to j) r(order(k)) = (i + j) / 2.0 + 1
        i = j + 1
      }
      r
    }
    val (a, b) = (midranks(xs), midranks(ys))
    val (ma, mb) = (a.sum / n, b.sum / n)
    val cov = a.indices.map(i => (a(i) - ma) * (b(i) - mb)).sum
    val expected = cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
      b.map(y => (y - mb) * (y - mb)).sum)
    val df = xs.zip(ys).toSeq.toDF("x", "y")
    val got = Stats.spearman(df, "x", "y", xScale = 1.0, yScale = 1.0).head()
    assert(got.getLong(0) === n.toLong)
    assert(math.abs(got.getDouble(1) - expected) < 1e-6)
  }

  // ---- Stats.aucScore ---------------------------------------------------

  test("auc: perfect separation, chance on constant score, hand value") {
    val perfect = Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true))
      .toDF("s", "l")
    assert(Stats.aucScore(perfect, col("l"), col("s")).head()
      .getLong(2) === 1000000L)
    val const = Seq((0.5, false), (0.5, true), (0.5, true), (0.5, false))
      .toDF("s", "l")
    assert(Stats.aucScore(const, col("l"), col("s")).head()
      .getLong(2) === 500000L)
    // scores pos {3, 1}, neg {2}: pairs (3>2)=1, (1<2)=0 → AUC = 1/2
    val hand = Seq((3.0, true), (1.0, true), (2.0, false)).toDF("s", "l")
    assert(Stats.aucScore(hand, col("l"), col("s")).head()
      .getLong(2) === 500000L)
  }

  // ---- Stats.gini -------------------------------------------------------

  test("gini: equality 0, concentration (n-1)/n, refuses negatives to NULL") {
    val eq = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)).toDF("e", "v")
    assert(Stats.gini(eq, "e", "v").head().getLong(2) === 0L)
    // one entity holds everything: G = (n−1)/n = 0.75
    val conc = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 100L)).toDF("e", "v")
    assert(Stats.gini(conc, "e", "v").head().getLong(2) === 750000L)
    val neg = Seq((1L, -5L), (2L, 10L)).toDF("e", "v")
    assert(Stats.gini(neg, "e", "v").head().isNullAt(2))
  }

  // ---- Stats.cohensKappa ------------------------------------------------

  test("kappa: perfect 1e6, degenerate constant raters NULL, hand value") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("r1", "r2")
    assert(Stats.cohensKappa(perfect, "r1", "r2").head()
      .getLong(3) === 1000000L)
    val const = Seq(("a", "a"), ("a", "a")).toDF("r1", "r2")
    assert(Stats.cohensKappa(const, "r1", "r2").head().isNullAt(3))
    // n=4, agree=3, margins a:(3,2) b:(1,2): spe = 3·2 + 1·2 = 8
    // κ = (4·3 − 8)/(16 − 8) = 0.5
    val hand = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"))
      .toDF("r1", "r2")
    val row = Stats.cohensKappa(hand, "r1", "r2").head()
    assert(row.getLong(1) === 750000L) // po = 3/4
    assert(row.getLong(2) === 500000L) // pe = 8/16
    assert(row.getLong(3) === 500000L)
  }

  // ---- Stats.benford ----------------------------------------------------

  test("benford: digits bucketed exactly, non-positive rows excluded") {
    val vals = Seq(123L, 19L, 1L, 200L, 9L, 0L, -5L).toDF("v")
    val got = Stats.benford(vals, "v")
      .select("digit", "n_obs").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L,
      6L -> 0L, 7L -> 0L, 8L -> 0L, 9L -> 1L))
    // expected share of digit 1 = log10(2) ≈ 0.301030
    val e1 = Stats.benford(vals, "v").filter(col("digit") === 1)
      .head().getLong(2)
    assert(e1 === 301030L)
  }

  // ---- Stats.olsTrend (re-used kernel) ----------------------------------------------------

  test("ols: exact line recovered, constant-x group NULL slope") {
    val line = Seq(("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),
      ("c", 5.0, 1.0), ("c", 5.0, 9.0)).toDF("grp", "x", "y")
    val got = Stats.olsTrend(line, "grp", "x", "y", yScale = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("g").getDouble(2) === 2.0) // slope
    assert(got("g").getDouble(3) === 1.0) // intercept
    assert(got("c").isNullAt(2) && got("c").isNullAt(3))
  }

  // ---- FeatureEng.jsDivergence -----------------------------------------

  test("jsd: identical slices 0, disjoint slices ln 2") {
    val a = Seq("x", "x", "y").toDF("c")
    assert(FeatureEng.jsDivergence(a, a, "c").head().getLong(3) === 0L)
    val b = Seq("z", "z", "w").toDF("c")
    // fully disjoint supports → JSD = ln 2 = 693147 micro-nats
    assert(FeatureEng.jsDivergence(a, b, "c").head()
      .getLong(3) === 693147L)
  }

  // ---- TextAnalysis.tokenEntropy ---------------------------------------

  test("token entropy: constant 0, uniform ln k, hand mixed value") {
    val docs = Seq(
      (1L, "a a a a"),
      (2L, "a b c d"),
      (3L, "a a b b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) === ((4L, 0L)))
    assert(got(2L) === ((4L, 1386294L))) // ln 4
    // L=6, counts (2,3,1): H = ln6 − (2ln2 + 3ln3)/6
    // = 1791759 − (2·693147 + 3·1098612)/6 = 1791759 − 780355 = 1011404
    assert(got(3L) === ((6L, 1011404L)))
  }

  // ---- TimeSeries.acf ---------------------------------------------------

  test("acf: alternating series → r1 −5/6, r2 +4/6 of variance ratio") {
    // x = 2,1,2,1,2,1 over 6 consecutive days (a zero-count day has no
    // row at all — counts must stay positive): cx = (6x − 9) = ±3
    // den = 6·9 = 54; lag1: 5 pairs of −9 → −45/54 = −0.833333
    // lag2: 4 pairs of +9 → +36/54 = 0.666667
    val ev = (0 until 6).flatMap { i =>
      val n = if (i % 2 == 0) 2 else 1
      (0 until n).map(j =>
        (i.toLong * 10 + j, s"2024-03-0${i + 1} 12:00:00"))
    }.toDF("event_id", "tss")
      .select(col("event_id"), lit("t").as("grp"),
        to_timestamp(col("tss")).as("ts"))
    val got = TimeSeries.acf(ev, "grp", "ts", 2)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got === Map(1L -> -833333L, 2L -> 666667L))
  }

  test("acf: sparse days densify — lag is calendar, not observed-row") {
    // events on Mar 1, 3, 5 only (1 each) → dense series over 5 calendar
    // days is x = 1,0,1,0,1: S = 3, n = 5, cx = 5x − 3 = (2,−3,2,−3,2)
    // den = 3·4 + 2·9 = 30; lag1: 2·(−6)+2·(−6) = −24 → −800000
    // lag2: 3 pairs of +4 and... cx pairs (2,2),(−3,−3),(2,2) = 4+9+4=17
    // → 17/30 = 566667. Without densify lag1 would pair observed days
    // (all x = 1, constant → den 0 → NULL).
    val ev = Seq(1L -> "2024-03-01 09:00:00", 2L -> "2024-03-03 09:00:00",
        3L -> "2024-03-05 09:00:00")
      .toDF("event_id", "tss")
      .select(col("event_id"), lit("t").as("grp"),
        to_timestamp(col("tss")).as("ts"))
    val got = TimeSeries.acf(ev, "grp", "ts", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(t => t._1 -> t._2).toMap === Map(1L -> 5L, 2L -> 5L))
    assert(got.map(t => t._1 -> t._3).toMap ===
      Map(1L -> -800000L, 2L -> 566667L))
  }

  // ---- Stats.prCurve ----------------------------------------------------

  test("pr curve: hand thresholds, monotone recall, F1 as exact rational") {
    // scores desc: 4(+), 3(−), 2(+), 1(−) → thresholds:
    // v=4: tp=1 n=1 P=1.0 R=0.5 F1=2/3; v=3: tp=1 n=2 P=.5 R=.5 F1=.5
    // v=2: tp=2 n=3 P=2/3 R=1 F1=0.8; v=1: tp=2 n=4 P=.5 R=1 F1=2/3
    val df = Seq((4.0, true), (3.0, false), (2.0, true), (1.0, false))
      .toDF("s", "l")
    val got = Stats.prCurve(df, col("l"), col("s"), 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(4L) === ((1000000L, 500000L, 666667L)))
    assert(got(3L) === ((500000L, 500000L, 500000L)))
    assert(got(2L) === ((666667L, 1000000L, 800000L)))
    assert(got(1L) === ((500000L, 1000000L, 666667L)))
  }

  // ---- Stats.liftTable --------------------------------------------------

  test("lift table: top-bin lift, cumulative gain reaches 1") {
    // 8 rows, 4 bins of 2; positives concentrated in the top scores
    val df = (1 to 8).map(i => (i.toLong, 9.0 - i, i <= 2))
      .toDF("id", "s", "l")
    val got = Stats.liftTable(df, col("l"), col("s"), col("id"), nBins = 4,
        valScale = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6)))).toMap
    // bin 1 = two highest scores = the two positives: rate 1.0 vs base
    // 0.25 → lift 4.0; cum gain 1.0 from bin 1 onward
    assert(got(1L) === ((2L, 2L, 4000000L, 1000000L)))
    assert(got(2L) === ((2L, 0L, 0L, 1000000L)))
    assert(got(4L)._4 === 1000000L)
  }

  // ---- Graph.scc --------------------------------------------------------

  test("scc: cycles share the min label, DAG nodes stay singleton") {
    import graft.operators.Graph
    // 1↔2 cycle, 3↔4 cycle, 2→3 bridge (one-way), 5 dangling via 4→5
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L),
      (4L, 5L)).toDF("src", "dst")
    val got = Graph.scc(edges)
    val m = got.as[(Long, Long)].collect().toMap
    got.unpersist()
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val d = Graph.scc(dag)
    val dm = d.as[(Long, Long)].collect().toMap
    d.unpersist()
    assert(dm === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("scc matches a naive reachability reference on 50 seeded digraphs") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(20261019L)
    // graph g: ids g·10⁶ + a sparse random id (so the smallest id is not the
    // first seen); self-loops, duplicate edges, DAGs and one long cycle
    val graphs: Seq[Seq[(Long, Long)]] = (0 until 50).map { g =>
      val base = g * 1000000L
      val k = 1 + rnd.nextInt(12)
      val ids = Array.fill(k)(base + rnd.nextInt(900000)).distinct
      val m = ids.length
      g % 10 match {
        case 0 => // DAG: edges only forward in a random order
          val p = rnd.shuffle(ids.toSeq)
          for (i <- 0 until m; j <- i + 1 until m if rnd.nextInt(3) == 0)
            yield (p(i), p(j))
        case 1 => // one long cycle through every node, listed shuffled
          rnd.shuffle((0 until m).map(i => (ids(i), ids((i + 1) % m))))
        case _ =>
          val es = Seq.fill(rnd.nextInt(3 * m + 1))(
            (ids(rnd.nextInt(m)), ids(rnd.nextInt(m))))
          es ++ es.take(2) ++ (if (g % 3 == 0) Seq((ids(0), ids(0))) else Nil)
      }
    } :+ (0 until 200).map(i => (7000000000L + i, 7000000000L + (i + 1) % 200))
    def reference(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def reach(v: Long): Set[Long] = {
        var seen = Set(v); var todo = List(v)
        while (todo.nonEmpty) {
          val u = todo.head; todo = todo.tail
          adj.getOrElse(u, Nil).filterNot(seen).foreach { w =>
            seen += w; todo ::= w }
        }
        seen
      }
      val r = nodes.map(v => v -> reach(v)).toMap
      nodes.map(v => v -> r(v).filter(u => r(u)(v)).min).toMap
    }
    val edges = graphs.flatten
    val got = Graph.scc(edges.toDF("src", "dst"))
    val m = got.as[(Long, Long)].collect().toMap
    got.unpersist()
    assert(m.size === edges.flatMap(e => Seq(e._1, e._2)).distinct.size)
    for ((es, g) <- graphs.zipWithIndex) {
      val want = reference(es)
      assert(want.forall { case (v, l) => m(v) == l }, s"graph $g: $es")
    }
  }

  test("scc refuses past the node bound") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.scc(edges, maxNodes = 2)
    }
    assert(e.getMessage.contains("maxNodes"))
  }

  // ---- Similarity.mutualTopK -------------------------------------------

  test("mutual top-k keeps only reciprocal pairs") {
    // a and b are near-duplicates; c's nearest is a, but a's top-1 is b
    // (and vice versa) — with k = 1 only (a, b) is mutual
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.99f, 0.14f)),
      (3L, Array(0.5f, 0.86f))).toDF("vec_id", "embedding")
    val got = Similarity.mutualTopK(emb, "vec_id", "embedding", 1,
      broadcastCorpus = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
    // k = 2 over 3 vectors: every pair is mutual
    val all = Similarity.mutualTopK(emb, "vec_id", "embedding", 2,
      broadcastCorpus = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(all === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---- Stats.rocCurve ----------------------------------------------------

  test("roc curve: hand thresholds, degenerate side yields NULL rate") {
    // scores desc: 4(+), 3(−), 2(+), 1(−); P = 2, N = 2
    // v=4: tp=1 fp=0; v=3: tp=1 fp=1; v=2: tp=2 fp=1; v=1: tp=2 fp=2
    val df = Seq((4.0, true), (3.0, false), (2.0, true), (1.0, false))
      .toDF("s", "l")
    val got = Stats.rocCurve(df, col("l"), col("s"), 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(4L) === ((1L, 0L, 500000L, 0L)))
    assert(got(3L) === ((1L, 1L, 500000L, 500000L)))
    assert(got(2L) === ((2L, 1L, 1000000L, 500000L)))
    assert(got(1L) === ((2L, 2L, 1000000L, 1000000L)))
    // all-positive input: fpr has no denominator
    val onePos = Seq((1.0, true), (2.0, true)).toDF("s", "l")
    val r = Stats.rocCurve(onePos, col("l"), col("s"), 1.0).collect()
    assert(r.forall(_.isNullAt(4)) && r.forall(!_.isNullAt(3)))
  }

  // ---- Stats.freqSpectrum -------------------------------------------------

  test("freq spectrum: count-of-counts and mass shares by hand") {
    // a×3, b×2, c×2, d×1 → freq 1: 1 item mass 1; freq 2: 2 items mass 4;
    // freq 3: 1 item mass 3; total 8
    val toks = Seq("a", "a", "a", "b", "b", "c", "c", "d").toDF("tok")
    val got = Stats.freqSpectrum(toks, col("tok"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((1L, 1L, 125000L)),
      2L -> ((2L, 4L, 500000L)),
      3L -> ((1L, 3L, 375000L))))
  }

  // ---- Similarity.dimStats -----------------------------------------------

  test("dim stats: exact mean/var chain, zero counting") {
    // dim1: (1.0, 0.0) → mean 5e5, var (Σx²·n−(Σx)²)/n² = (1e12·2−1e12)/4
    // = 2.5e11; dim2: (0.5, 0.5) → mean 5e5, var 0, no zeros
    val emb = Seq(
      (1L, Array(1.0f, 0.5f)),
      (2L, Array(0.0f, 0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(emb, "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((2L, 500000L, 250000000000L, 1L)))
    assert(got(2L) === ((2L, 500000L, 0L, 0L)))
  }

  // ---- Similarity.labelConfusion ------------------------------------------

  test("label confusion: separable labels diagonal, planted confusion counted") {
    // label 1 clusters on x-axis, label 2 on y-axis; one label-1 vector
    // planted inside label 2's cluster → (1, 2, 1) off-diagonal
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 2),
      (4L, Array(0.1f, 0.9f), 2),
      (5L, Array(0.0f, 0.95f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelConfusion(emb, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((1, 1)) === 2L)
    assert(got((1, 2)) === 1L)
    assert(got((2, 2)) === 2L)
    assert(got.keySet === Set((1, 1), (1, 2), (2, 2)))
  }

  // ---- QualityNative.qualityScoreX1e4 ----------------------------------------

  test("native quality score = SQL formulation on corpus + adversarial strings") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    // empty text is excluded from the comparison frame: under ANSI the
    // SQL path THROWS on its div-by-zero-length; the native expression
    // deliberately degrades to NULL instead (asserted separately below)
    val edge = Seq(
      " ",                      // two empty tokens, zero hits
      "a",                      // a stopword that is also a vowel
      "the the  the ",          // double space + trailing space empties
      "and of a the",           // all four stopwords
      "xyz qrs tln",            // zero vowels, zero hits
      "θ unicode ø the",        // non-ASCII code points
      ("w " * 60) + "the",      // many tokens
      "z" * 2500                // above the length band
    ).toDF("text")
    for (frame <- Seq(docs, edge)) {
      val cmp = frame.select(
        TextAnalysis.qualityScoreX1e4("text").as("nat"),
        TextAnalysis.qualityScoreX1e4Sql("text").as("sql"))
      assert(cmp.filter(
        !(col("nat") <=> col("sql"))).count() === 0L)
    }
    // NULL shape: empty text is NULL in both paths
    val nulls = Seq("").toDF("text")
      .select(TextAnalysis.qualityScoreX1e4("text").as("q")).head()
    assert(nulls.isNullAt(0))
  }

  // ---- Stats.wasserstein1 ----------------------------------------------------

  test("wasserstein: split mass, identical zero, constant shift") {
    // A = {0, 2}, B = {1}: move 0.5 mass distance 1 each way → W1 = 1
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 1.0)).toDF("g", "x")
    val r = Stats.wasserstein1(df, "g", "x", "a", "b", 1.0).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 1L, 1000000L)))
    // identical distributions → 0
    val same = Seq(("a", 3.0), ("a", 7.0), ("b", 3.0), ("b", 7.0))
      .toDF("g", "x")
    assert(Stats.wasserstein1(same, "g", "x", "a", "b", 1.0)
      .head().getLong(2) === 0L)
    // constant shift by 5 → W1 = 5
    val shift = Seq(("a", 0.0), ("a", 1.0), ("b", 5.0), ("b", 6.0))
      .toDF("g", "x")
    assert(Stats.wasserstein1(shift, "g", "x", "a", "b", 1.0)
      .head().getLong(2) === 5000000L)
  }

  // ---- Stats.groupQuantiles -------------------------------------------------

  test("group quantiles: discrete semantics by hand, per-group isolation") {
    // g: 1..10 → q50 = 5 (cum 5 ≥ 5), q90 = 9, q99 = 10 (ceil(9.9) = 10)
    // h: all 7s → every quantile 7
    val df = ((1 to 10).map(v => ("g", v.toLong)) ++
      Seq(("h", 7L), ("h", 7L))).toDF("grp", "v")
    val got = Stats.groupQuantiles(df, "grp", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("g") === ((10L, 5L, 9L, 10L)))
    assert(got("h") === ((2L, 7L, 7L, 7L)))
  }

  // ---- Similarity.int8QuantError -------------------------------------------

  test("int8 quant: exact residuals, constant dim zero-error") {
    // dim1 (0, 1, 0.5): mn=0 mx=1e6; q = (0, 255, 128); dequant =
    // (0, 1e6, 501961); e = (0, 0, -1961); sse = 1961² = 3845521;
    // rmse = round(sqrt(3845521/3)) = 1132. dim2 constant → all zero.
    val emb = Seq(
      (1L, Array(0.0f, 0.25f)),
      (2L, Array(1.0f, 0.25f)),
      (3L, Array(0.5f, 0.25f))).toDF("vec_id", "embedding")
    val got = Similarity.int8QuantError(emb, "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got(1L) === ((3L, 0L, 1000000L, 3845521L, 1132L)))
    assert(got(2L) === ((3L, 250000L, 250000L, 0L, 0L)))
  }

  // ---- Dedup minhash index lifecycle --------------------------------------

  test("minhash index: append = rebuild, query finds cross-slice dups") {
    import graft.operators.Dedup
    // per-doc filler words (no cross-talk between unrelated docs): 30/2
    // identical (index slice A vs probe), 10/5 near-identical (slice B vs
    // probe), 31 and 13 unique
    def filler(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (30L, s"alpha ${filler("a")}"),
      (31L, s"omega ${filler("w")}"),
      (10L, s"beta ${filler("b")}"),
      (13L, s"gamma ${filler("c")}"),
      (2L, s"alpha ${filler("a")}"),
      (5L, s"beta ${filler("b")} extra")
    ).toDF("doc_id", "text")
    val a = docs.filter(col("doc_id") % 3 === 0) // 30
    val b = docs.filter(col("doc_id") % 3 === 1) // 31, 10, 13
    val probes = docs.filter(col("doc_id") % 3 === 2) // 2, 5
    val dir1 = java.nio.file.Files.createTempDirectory("mh-t1").toString
    Dedup.buildMinhashIndex(a, "doc_id", "text", dir1)
    Dedup.appendMinhashIndex(b, "doc_id", "text", dir1)
    val incr = Dedup.queryMinhashIndex(spark, dir1, probes,
      "doc_id", "text").as[(Long, Long)].collect().toSet
    // rebuild over A ∪ B in one shot — identical answer (no trained state)
    val dir2 = java.nio.file.Files.createTempDirectory("mh-t2").toString
    Dedup.buildMinhashIndex(a.unionByName(b), "doc_id", "text", dir2)
    val full = Dedup.queryMinhashIndex(spark, dir2, probes,
      "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(incr === full)
    // probe 2 is byte-identical to indexed 30 — every band collides, the
    // pair is certain; probe 5 vs indexed 10 is Jaccard 0.9, so IF banding
    // candidates anything for 5 it can only be 10 (all other docs are
    // disjoint); nothing else pairs
    assert(incr.contains((2L, 30L)))
    assert(incr.filter(_._1 == 5L).subsetOf(Set((5L, 10L))))
    assert(incr.subsetOf(Set((2L, 30L), (5L, 10L))))
  }
}
