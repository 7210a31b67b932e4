package graft

import org.apache.spark.sql.functions._

import graft.ops.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 2000L).map(i => (i, s"src${i % 7}"))
    .toDF("doc_id", "source")

  test("datasetSplit is deterministic and partitioning-independent") {
    val a = docs.repartition(1)
      .select($"doc_id", Sampling.datasetSplit($"doc_id").as("split"))
    val b = docs.repartition(16, $"source") // different layout, same keys
      .select($"doc_id", Sampling.datasetSplit($"doc_id").as("split"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // and stable across two evaluations of the same plan
    assert(a.except(a).isEmpty)
  }

  test("datasetSplit fractions land near the requested percentages") {
    val counts = docs
      .select(Sampling.datasetSplit($"doc_id", trainPct = 80, validPct = 10).as("split"))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "valid", "test"))
    val n = counts.values.sum.toDouble
    // 2000 draws of a 16-bit uniform hash: ±3% absolute is > 5 sigma
    assert(math.abs(counts("train") / n - 0.80) < 0.03, counts)
    assert(math.abs(counts("valid") / n - 0.10) < 0.03, counts)
    assert(math.abs(counts("test") / n - 0.10) < 0.03, counts)
  }

  test("split salt decorrelates from the mixture gate salt") {
    // a doc assigned to test must NOT be systematically dropped (or kept) by
    // an independently-salted downsample: joint frequencies factorize.
    // 20k keys → the smallest stratum (valid, 10%) has ~2k draws, so its
    // kept-rate std is ~0.011 and the 0.06 tolerance is a >5-sigma bound
    val wide = (0L until 20000L).map(i => (i, s"src${i % 7}"))
      .toDF("doc_id", "source")
    val joint = wide.select(
        Sampling.datasetSplit($"doc_id").as("split"),
        Sampling.stratifiedKeep($"doc_id", $"source", Map.empty, 0.5).as("kept"))
      .groupBy("split", "kept").count().as[(String, Boolean, Long)].collect()
    val keptRate = joint.filter(_._2).map(_._3).sum.toDouble /
      joint.map(_._3).sum
    for (s <- Seq("train", "valid", "test")) {
      val rows = joint.filter(_._1 == s)
      val rate = rows.filter(_._2).map(_._3).sum.toDouble / rows.map(_._3).sum
      assert(math.abs(rate - keptRate) < 0.06, s"$s kept-rate $rate vs $keptRate")
    }
  }

  test("stratifiedKeep applies per-stratum rates with a default") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.0, "src2" -> 0.25)
    val kept = docs
      .filter(Sampling.stratifiedKeep($"doc_id", $"source", rates, defaultRate = 0.5))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val bySource = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("src0") === bySource("src0"))           // rate 1.0 keeps all
    assert(!kept.contains("src1"))                      // rate 0.0 drops all
    assert(math.abs(kept("src2").toDouble / bySource("src2") - 0.25) < 0.1)
    assert(math.abs(kept("src3").toDouble / bySource("src3") - 0.5) < 0.12)
  }

  test("hash bucket matches the oracle's hex-parse formulation") {
    // the DuckDB oracle parses the same 4 hex chars with ('0x'||h)::INT;
    // recompute via an independent Scala path and compare exactly
    val got = docs.limit(50)
      .select($"doc_id", Sampling.hashBucket($"doc_id", "graft-split").as("b"))
      .as[(Long, Int)].collect()
    got.foreach { case (id, b) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-split$id".getBytes("UTF-8"))
        .take(2).map(x => f"$x%02x").mkString
      assert(b === Integer.parseInt(hex, 16), s"doc $id")
    }
  }

  test("invalid fractions are rejected") {
    intercept[IllegalArgumentException] {
      Sampling.datasetSplit($"doc_id", trainPct = 90, validPct = 20)
    }
    intercept[IllegalArgumentException] {
      Sampling.stratifiedKeep($"doc_id", $"source", Map("a" -> 1.5), 0.1)
    }
  }

  test("tokenBudgetCap: per-stratum cumsum in id order, boundary doc dropped") {
    // src a: lens 10,20,30,40 at ids 0..3 -> cum 10,30,60,100; budget 60
    // keeps ids 0,1,2 (the crossing doc 3 is dropped, not truncated)
    // src b: lens 50,50 -> cum 50,100; keeps only id 10
    val d = Seq(
      ("a", 0L, 10L), ("a", 1L, 20L), ("a", 2L, 30L), ("a", 3L, 40L),
      ("b", 10L, 50L), ("b", 11L, 50L)).toDF("source", "doc_id", "n_tokens")
    val out = Sampling.tokenBudgetCap(d, budget = 60L,
        stratumCol = "source", idCol = "doc_id", lenCol = "n_tokens")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._2 -> (r._4, r._5)).toMap
    assert(out(0L) === (10L, true) && out(1L) === (30L, true))
    assert(out(2L) === (60L, true) && out(3L) === (100L, false))
    assert(out(10L) === (50L, true) && out(11L) === (100L, false))
    // cumsum is layout-invariant and bucket-count-invariant (the bucketed
    // prefix-scan must agree with itself across physical layouts)
    val byLayout = Seq(
      Sampling.tokenBudgetCap(d.repartition(7), 60L, "source", "doc_id", "n_tokens"),
      Sampling.tokenBudgetCap(d.repartition(1), 60L, "source", "doc_id", "n_tokens",
        numBuckets = 3))
      .map(_.as[(String, Long, Long, Long, Boolean)].collect().sortBy(_._2).toSeq)
    assert(byLayout(0) === byLayout(1))
    // empty input keeps the 5-column schema
    val empty = Sampling.tokenBudgetCap(d.limit(0), 60L, "source", "doc_id", "n_tokens")
    assert(empty.columns.toSeq ===
      Seq("source", "doc_id", "n_tokens", "cum_tokens", "kept"))
    assert(empty.isEmpty)
    // NULL strata form their own stratum (SQL window semantics) — they must
    // not vanish through the internal prefix join
    val withNull = Seq(
      (Some("a"), 0L, 10L), (None, 1L, 40L), (None, 2L, 30L))
      .toDF("source", "doc_id", "n_tokens")
    val nr = Sampling.tokenBudgetCap(withNull, 50L, "source", "doc_id", "n_tokens")
      .as[(Option[String], Long, Long, Long, Boolean)].collect()
      .map(r => r._2 -> (r._4, r._5)).toMap
    assert(nr.keySet === Set(0L, 1L, 2L))
    assert(nr(1L) === (40L, true) && nr(2L) === (70L, false))
  }

  test("temperatureRates: alpha=0.5 hand-check, alpha=1 natural, gate tracks the rate") {
    import graft.ops.Sampling
    // source a: 100 docs x 1 char; source b: 100 docs x 4 chars
    val docs = ((0L until 100L).map(i => (i, "a", 1L)) ++
        (100L until 200L).map(i => (i, "b", 4L)))
      .toDF("doc_id", "source", "n_chars")
    val r = Sampling.temperatureRates(docs, 0.5, "source", "n_chars")
      .as[(String, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    // n_a=100, n_b=400: p ∝ sqrt(n) -> 10:20; rates ∝ 1/sqrt(n), max-normed
    assert(r("a") === (("a", 100L, 1.0 / 3, 1.0)))
    assert(math.abs(r("b")._3 - 2.0 / 3) < 1e-15 && r("b")._4 === 0.5)
    // alpha = 1: natural proportions, nothing downsampled
    val nat = Sampling.temperatureRates(docs, 1.0, "source", "n_chars")
      .as[(String, Long, Double, Double)].collect()
    assert(nat.forall(_._4 === 1.0))
    // the gate keeps everything from the rate-1.0 stratum and ~half of the
    // rate-0.5 stratum (16-bit hash on 100 draws: ±20 abs is > 4 sigma)
    val kept = Sampling.temperatureKeep(docs, 0.5, "source", "n_chars", "doc_id")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("a") === 100L)
    assert(kept("b") > 30L && kept("b") < 70L, kept)
    // deterministic under repartition
    val again = Sampling.temperatureKeep(
        docs.repartition(16), 0.5, "source", "n_chars", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val first = Sampling.temperatureKeep(docs, 0.5, "source", "n_chars", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(again === first)
  }

  test("temperatureKeep: a NULL stratum is gated at its own rate, not dropped") {
    import graft.ops.Sampling
    // source a: 100 docs x 1 char; NULL source: 100 docs x 4 chars — the
    // NULL stratum's rate row exists (0.5), so its docs must pass the gate
    // at that rate like any other stratum's
    val docs = ((0L until 100L).map(i => (i, Some("a"), 1L)) ++
        (100L until 200L).map(i => (i, None: Option[String], 4L)))
      .toDF("doc_id", "source", "n_chars")
    val rates = Sampling.temperatureRates(docs, 0.5, "source", "n_chars")
      .as[(Option[String], Long, Double, Double)].collect().map(x => x._1 -> x._4).toMap
    assert(rates === Map(Some("a") -> 1.0, None -> 0.5))
    val kept = Sampling.temperatureKeep(docs, 0.5, "source", "n_chars", "doc_id")
    val bySrc = kept.groupBy("source").count().as[(Option[String], Long)].collect().toMap
    assert(bySrc(Some("a")) === 100L)
    assert(bySrc.get(None).exists(n => n > 30L && n < 70L), bySrc)
    assert(kept.columns.toSeq === docs.columns.toSeq, "the gate is a filter: schema unchanged")
  }

  test("quotaSample: exact k per stratum, layout-invariant, small strata whole, NULL stratum kept") {
    import graft.ops.Sampling
    val pool = ((0L until 300L).map(i => (i, Some("a"))) ++
        (300L until 320L).map(i => (i, Some("b"))) ++
        (320L until 323L).map(i => (i, None: Option[String])))
      .toDF("doc_id", "source")
    val got = Sampling.quotaSample(pool, k = 10, "source", "doc_id")
      .as[(Long, Option[String], Int)].collect()
    val bySrc = got.groupBy(_._2)
    assert(bySrc(Some("a")).length === 10 && bySrc(Some("b")).length === 10)
    assert(bySrc(None).length === 3, "NULL stratum must survive as its own group")
    assert(got.groupBy(_._2).values.forall(g =>
      g.map(_._3).sorted.toSeq == (1 to g.length)))
    // membership + ranks identical under a different layout (the two-phase
    // pre-prune must not change the answer)
    val again = Sampling.quotaSample(pool.repartition(17), k = 10, "source", "doc_id")
      .as[(Long, Option[String], Int)].collect()
    assert(again.map(r => (r._1, r._3)).toSet === got.map(r => (r._1, r._3)).toSet)
    // ranks follow the (hash, id) total order, not raw id order
    val ranked = bySrc(Some("a")).sortBy(_._3).map(_._1).toSeq
    assert(ranked !== ranked.sorted, "hash order should not degenerate to id order")
  }

  test("weightedSample: weight-proportional, deterministic, zero-weight excluded") {
    import graft.ops.Sampling
    // 500 docs: even ids weight 10, odd ids weight 1 -> E[heavy share of a
    // k=100 E-S draw] ~ 0.91; deterministic hashes make the assertion exact
    val pool = (0L until 500L).map(i => (i, if (i % 2 == 0) 10L else 1L))
      .toDF("doc_id", "w")
    val got = Sampling.weightedSample(pool, k = 100, weightCol = "w")
      .as[(Long, Long, Double)].collect()
    assert(got.length === 100)
    val heavy = got.count(_._2 == 10L)
    assert(heavy > 75, s"heavy docs must dominate a weighted draw: $heavy/100")
    // keys are ln(u)/w <= 0 and the selection is exactly the top-k by key
    assert(got.forall(_._3 <= 0.0))
    val all = Sampling.weightedSample(pool, k = 500, weightCol = "w")
      .as[(Long, Long, Double)].collect()
    val expect = all.sortBy(r => (-r._3, r._1)).take(100).map(_._1).toSet
    assert(got.map(_._1).toSet === expect)
    // layout-independent (the task-retry / cluster-size safety property)
    val again = Sampling.weightedSample(pool.repartition(16), k = 100, "w")
      .as[(Long, Long, Double)].collect()
    assert(again.map(_._1).toSet === got.map(_._1).toSet)
    // weight <= 0 rows are never drawn; k > pool returns the positive pool
    val mixed = Seq((1L, 0L), (2L, -3L), (3L, 5L)).toDF("doc_id", "w")
    val m = Sampling.weightedSample(mixed, k = 10, "w").collect().map(_.getLong(0))
    assert(m.toSeq === Seq(3L))
  }
}
