package graft

import graft.ext.Quantiles
import org.apache.spark.sql.functions._

/** The scale-path quantiles must agree with Spark's exact `percentile`
  * aggregate (the memory-unbounded form they replace) on real data.
  */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  lazy val li = spark.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")

  test("exactQuantiles reproduces the exact percentile aggregate bit-for-bit") {
    val ps = Seq(0.0, 0.25, 0.5, 0.95, 1.0)
    val names = ps.indices.map(i => s"q$i")
    val got = Quantiles.exactQuantiles(li, "l_extendedprice", Seq("l_returnflag"), ps, names)
      .orderBy("l_returnflag").collect()
    val want = li.groupBy("l_returnflag")
      .agg(ps.zip(names).map { case (p, n) =>
        expr(s"percentile(l_extendedprice, $p)").as(n) }.head,
        ps.zip(names).map { case (p, n) =>
          expr(s"percentile(l_extendedprice, $p)").as(n) }.tail: _*)
      .orderBy("l_returnflag").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      names.indices.foreach { i =>
        assert(g.getDouble(i + 1) == w.getDouble(i + 1),
          s"quantile ${ps(i)} of ${g.getString(0)}: ${g.getDouble(i + 1)} != ${w.getDouble(i + 1)}")
      }
    }
  }

  test("exactQuantiles handles duplicate-heavy and single-value groups") {
    val d = Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("b", 7.0)).toDF("k", "v")
    val got = Quantiles.exactQuantiles(d, "v", Seq("k"), Seq(0.5), Seq("p50"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1)))
    // a: sorted [1,1,1,2], pos=1.5 -> interpolate(1,1)=1; b: single value
    assert(got.toSeq == Seq(("a", 1.0), ("b", 7.0)))
  }

  test("exactQuantilesDisc reproduces percentile_disc bit-for-bit (real + random data)") {
    val ps = Seq(0.0, 0.25, 0.5, 0.95, 1.0)
    val names = ps.indices.map(i => s"q$i")
    def want(df: org.apache.spark.sql.DataFrame, keyCol: String) = df.groupBy(keyCol)
      .agg(
        expr(s"percentile_disc(${ps.head}) WITHIN GROUP (ORDER BY v)").as(names.head),
        ps.tail.zip(names.tail).map { case (p, n) =>
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(n) }: _*)
    val liv = li.select($"l_returnflag".as("k"), $"l_extendedprice".as("v"))
    val gotLi = Quantiles.exactQuantilesDisc(liv, "v", Seq("k"), ps, names)
      .orderBy("k").collect()
    val wantLi = want(liv, "k").orderBy("k").collect()
    gotLi.zip(wantLi).foreach { case (g, w) =>
      names.indices.foreach { i =>
        assert(g.getDouble(i + 1) == w.getDouble(i + 1),
          s"disc p=${ps(i)} group ${g.getString(0)}: ${g.getDouble(i + 1)} != ${w.getDouble(i + 1)}")
      }
    }
    // duplicate-heavy random multisets (the boundary-arithmetic stress)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genVal = Gen.frequency(2 -> Gen.choose(-5, 5).map(_.toDouble),
      1 -> Gen.oneOf(0.0, 1.5, 1.5, -2.25))
    (1L to 8L).foreach { seed =>
      val vals = Gen.listOfN(40, genVal).apply(Gen.Parameters.default, Seed(seed)).get
      val df = vals.zipWithIndex.map { case (v, i) => (s"g${i % 3}", v) }.toDF("k", "v")
      val got = Quantiles.exactQuantilesDisc(df, "v", Seq("k"), ps, names)
        .orderBy("k").collect()
      val w = want(df, "k").orderBy("k").collect()
      got.zip(w).foreach { case (g, ww) =>
        names.indices.foreach { i =>
          assert(g.getDouble(i + 1) == ww.getDouble(i + 1),
            s"seed $seed disc p=${ps(i)} ${g.getString(0)}: ${g.getDouble(i + 1)} != ${ww.getDouble(i + 1)}")
        }
      }
    }
  }

  test("property: exactQuantiles == exact percentile on random multisets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // duplicate-heavy, negative, and fractional values — the shapes that
    // break naive rank arithmetic (cumulative counts, interpolation)
    val genVal = Gen.frequency(
      3 -> Gen.choose(-100, 100).map(_.toDouble),
      2 -> Gen.oneOf(0.0, 1.0, 1.0, -2.5, 3.25),
      1 -> Gen.choose(-1e6, 1e6))
    val ps = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    val names = ps.indices.map(i => s"q$i")
    (1L to 8L).foreach { seed =>
      val vals = Gen.listOfN(60, genVal)
        .apply(Gen.Parameters.default, Seed(seed)).get
      val df = vals.zipWithIndex.map { case (v, i) => (s"g${i % 3}", v) }
        .toDF("k", "v")
      val got = Quantiles.exactQuantiles(df, "v", Seq("k"), ps, names)
        .orderBy("k").collect()
      val want = df.groupBy("k")
        .agg(expr(s"percentile(v, ${ps.head})").as(names.head),
          ps.tail.zip(names.tail).map { case (p, n) =>
            expr(s"percentile(v, $p)").as(n) }: _*)
        .orderBy("k").collect()
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (g, w) =>
        names.indices.foreach { i =>
          assert(g.getDouble(i + 1) == w.getDouble(i + 1),
            s"seed $seed group ${g.getString(0)} p=${ps(i)}: " +
              s"${g.getDouble(i + 1)} != ${w.getDouble(i + 1)}")
        }
      }
    }
  }

  test("exactWeightedQuantilesDisc == percentile_disc over weight-expanded rows") {
    val ps = Seq(0.1, 0.5, 0.9)
    val names = Seq("w10", "w50", "w90")
    val df = li.select($"l_returnflag".as("k"), $"l_extendedprice".as("v"),
        $"l_quantity".cast("long").as("w"))
      .filter($"w" > 0)
    val got = Quantiles.exactWeightedQuantilesDisc(df, "v", "w", Seq("k"), ps, names)
      .orderBy("k").collect()
    // gold: physically repeat each row `w` times, then plain disc
    val expanded = df.select($"k", $"v", explode(expr("sequence(1L, w)")))
    val want = expanded.groupBy("k")
      .agg(expr(s"percentile_disc(${ps.head}) WITHIN GROUP (ORDER BY v)").as(names.head),
        ps.tail.zip(names.tail).map { case (p, n) =>
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(n) }: _*)
      .orderBy("k").collect()
    assert(got.nonEmpty && got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      names.indices.foreach { i =>
        assert(g.getDouble(i + 1) == w.getDouble(i + 1),
          s"weighted disc p=${ps(i)} group ${g.getString(0)}: " +
            s"${g.getDouble(i + 1)} != ${w.getDouble(i + 1)}")
      }
    }
    // zero/negative weights are ignored, not treated as count-1 rows
    val z = Seq(("g", 1.0, 0L), ("g", 2.0, 3L), ("g", 9.0, -1L)).toDF("k", "v", "w")
    val out = Quantiles.exactWeightedQuantilesDisc(z, "v", "w", Seq("k"),
      Seq(0.5), Seq("m")).collect()
    assert(out.head.getDouble(1) == 2.0)
  }
}
